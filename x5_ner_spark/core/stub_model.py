"""Deterministic stand-in for the transformer token classifier.

The reference's mention detector is an XLM-R(+CRF) checkpoint
(/root/reference/ner/infer.py:140-189). Shipping model weights is out of
scope for this sandbox (SURVEY.md §7.4 item 6), so the engine's inference
stage is parameterized by a ``prob_fn``; this module provides the pinned
deterministic default used by both the Spark UDF and the pytest oracle:
per-word class probabilities derived from md5 of the normalized token plus
transparent heuristic biases. Swapping in a real checkpoint only changes
``prob_fn`` inside the same iterator pandas UDF (operators/mention_detect.py).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from .cascade import STOPWORDS, TYPE_HINTS
from .spans import BIO_TAGS
from .textnorm import is_pure_latin, norm_token_simple

_N = len(BIO_TAGS)
_IDX = {t: i for i, t in enumerate(BIO_TAGS)}


def _hash_floats(key: str, n: int) -> list[float]:
    """n floats in [0, 1), deterministic in (key, i): one md5 seeds a 64-bit
    LCG (MMIX constants) — one digest per token instead of n."""
    h = hashlib.md5(key.encode("utf-8")).digest()
    state = int.from_bytes(h[:8], "big")
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        out.append(state / 2**64)
    return out


# ---------------------------------------------------------------- batched
# Vectorized batch API — the shape a real checkpoint plugs into (N3):
# token batch in, [n, 9] probability matrix out, computed with numpy matmuls
# so the executor does true batched inference. The "weights" here are the
# deterministic hash noise + rule biases of the pinned stub spec; swapping in
# ONNX/torch replaces ONLY batch_probabilities' body.

def batch_logits(tokens_conts: "list[tuple[str, bool]]"):
    """[(norm_token, is_continuation)] → numpy [n, 9] raw emission rows —
    the pre-softmax surface a CRF head consumes (ref train.py:52-62 returns
    emissions; infer.py:186-189 feeds them to viterbi_decode)."""
    import numpy as np

    n = len(tokens_conts)
    if n == 0:
        return np.zeros((0, _N))
    logits = np.empty((n, _N))
    for r, (tok, cont) in enumerate(tokens_conts):
        logits[r, :] = _logits(tok, cont)
    return logits


def batch_probabilities(tokens_conts: "list[tuple[str, bool]]"):
    """[(norm_token, is_continuation)] → numpy [n, 9] softmax rows.
    Identical values to word_probabilities (which delegates here)."""
    import numpy as np

    logits = batch_logits(tokens_conts)
    if not len(logits):
        return logits
    m = logits.max(axis=1, keepdims=True)
    e = np.exp(logits - m)
    return e / e.sum(axis=1, keepdims=True)


def _logits(tok: str, continuation: bool) -> list[float]:
    base = _hash_floats(tok, _N)
    logits = [b * 0.5 for b in base]  # small deterministic noise
    logits[_IDX["O"]] += 1.0
    if not tok or tok.isdigit() or tok in STOPWORDS:
        logits[_IDX["O"]] += 3.0
    elif tok in TYPE_HINTS:
        logits[_IDX["I-TYPE" if continuation else "B-TYPE"]] += 4.0
    elif is_pure_latin(tok) and len(tok) >= 3:
        logits[_IDX["B-BRAND"]] += 3.5
    return logits


@lru_cache(maxsize=1 << 16)
def _probs_cached(tok: str, continuation: bool) -> tuple[float, ...]:
    # delegate to the batch path so scalar and batched inference are
    # bit-identical (same numpy softmax)
    return tuple(float(x) for x in batch_probabilities([(tok, continuation)])[0])


def word_probabilities(token: str, position: int = 0) -> list[float]:
    """Softmax over 9 BIO classes; pure function of (token text, position>0).

    Heuristic logit shape (documented, frozen):
    - TYPE_HINTS member           → strong B-TYPE (I-TYPE if position > 0)
    - stopword / digits-only      → strong O
    - pure-Latin, length ≥ 3      → strong B-BRAND
    - otherwise                   → mild O prior + hash noise

    Token-level LRU caching is safe (pure in its key) and pays off on any
    Zipf-distributed corpus — the executor-side analog of the reference's
    per-worker model cache.
    """
    return list(_probs_cached(norm_token_simple(token), position > 0))
