"""CRF Viterbi decode over per-word emissions (pure numpy).

Parity target: the TorchCRF ``viterbi_decode`` the reference runs when a CRF
checkpoint is loaded (ner/infer.py:186-189; ner/train.py:64-71). Semantics:
maximize start_trans[y0] + Σ emissions[t, yt] + Σ trans[y_{t-1}, y_t]
+ end_trans[yT]; decode per sequence with backtracking. NOTE the reference
COMPUTES the Viterbi path and never consumes it in inference (infer.py:189 is
a dead assignment — labels come from the probability cascade), which is why
mention detection never decodes by Viterbi: the engine's one Viterbi surface
is the ``crf_decode`` operator (operators/crf_decode.py).

Transition parameters come either from a real checkpoint (swap point, same
shape) or from the deterministic hash-derived stub (:func:`stub_crf_params`)
— pinned the same way core/stub_model.py pins emissions.

Verification: brute-force path enumeration over all C^T paths on small
inputs (tests/test_crf.py) — an independent oracle, not a reimplementation
diff — plus a padded-batch ≡ per-sequence identity test.
"""

from __future__ import annotations

import numpy as np

from .spans import BIO_TAGS
from .stub_model import _hash_floats


def stub_crf_params(num_labels: int = len(BIO_TAGS)):
    """Deterministic CRF parameters: small hash-derived transition scores
    plus a BIO structure prior (I-X must follow B-X/I-X) so decoded paths
    look like plausible tag sequences."""
    n = num_labels
    flat = _hash_floats("#crf", n * n + 2 * n)
    trans = (np.array(flat[: n * n]).reshape(n, n) - 0.5) * 0.2
    start = (np.array(flat[n * n : n * n + n]) - 0.5) * 0.2
    end = (np.array(flat[n * n + n :]) - 0.5) * 0.2
    for j, tag in enumerate(BIO_TAGS):
        if tag.startswith("I-"):
            base = tag[2:]
            start[j] -= 4.0  # sequences don't open with a continuation
            for i, prev in enumerate(BIO_TAGS):
                if not prev.endswith(base) or prev == "O":
                    trans[i, j] -= 4.0
    return start, trans, end


def _logsumexp(a: np.ndarray, axis: int) -> np.ndarray:
    m = a.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True))).squeeze(axis)


def crf_nll_and_grads(
    emissions: np.ndarray, tags: "list[int] | np.ndarray",
    start: np.ndarray, trans: np.ndarray, end: np.ndarray,
) -> tuple[float, dict]:
    """Linear-chain CRF negative log-likelihood of the gold ``tags`` and its
    gradients wrt (emissions, start, trans, end) — exact forward-backward in
    log space; gradient = expected feature count − empirical count. This is
    the training-side twin of :func:`viterbi_decode` (same potential
    definition: start[y0] + Σ emis[t,yt] + Σ trans[y_{t-1},yt] + end[yT];
    ref analog: the TorchCRF NLL the reference minimizes, train.py:52-62).
    Numerically checked against finite differences (tests)."""
    em = np.asarray(emissions, dtype="float64")
    y = np.asarray(tags, dtype="int64")
    t_len, c = em.shape
    assert t_len == len(y) and t_len >= 1

    alpha = np.empty((t_len, c))
    alpha[0] = start + em[0]
    for t in range(1, t_len):
        alpha[t] = em[t] + _logsumexp(alpha[t - 1][:, None] + trans, axis=0)
    log_z = float(_logsumexp((alpha[t_len - 1] + end)[None, :], axis=1)[0])

    beta = np.empty((t_len, c))
    beta[t_len - 1] = end
    for t in range(t_len - 2, -1, -1):
        beta[t] = _logsumexp(trans + (em[t + 1] + beta[t + 1])[None, :], axis=1)

    gamma = np.exp(alpha + beta - log_z)  # unary marginals (T, C)

    gold = float(start[y[0]] + em[np.arange(t_len), y].sum() + end[y[-1]])
    g_trans = np.zeros_like(trans)
    for t in range(1, t_len):
        gold += float(trans[y[t - 1], y[t]])
        xi = np.exp(
            alpha[t - 1][:, None] + trans + (em[t] + beta[t])[None, :] - log_z
        )
        g_trans += xi
        g_trans[y[t - 1], y[t]] -= 1.0

    g_em = gamma.copy()
    g_em[np.arange(t_len), y] -= 1.0
    g_start = gamma[0].copy()
    g_start[y[0]] -= 1.0
    g_end = gamma[t_len - 1].copy()
    g_end[y[-1]] -= 1.0

    return log_z - gold, {
        "emissions": g_em, "start": g_start, "trans": g_trans, "end": g_end,
    }


def viterbi_decode(emissions: np.ndarray, start: np.ndarray, trans: np.ndarray,
                   end: np.ndarray) -> list[int]:
    """Single sequence (T, C) → best label path (list of T ids)."""
    path = viterbi_decode_batch([emissions], start, trans, end)
    return path[0]


def viterbi_decode_batch(
    emissions_list: "list[np.ndarray]", start: np.ndarray, trans: np.ndarray,
    end: np.ndarray,
) -> "list[list[int]]":
    """Vectorized Viterbi across a micro-batch: sequences padded to the max
    length, one (B, C, C) DP step per time position, masked so each
    sequence's end transition lands on its own last word. The N3 shape —
    the decode cost is O(maxT · C²) numpy ops for the WHOLE batch."""
    if not emissions_list:
        return []
    lens = np.array([len(e) for e in emissions_list])
    if (lens == 0).all():
        return [[] for _ in emissions_list]
    bsz, maxt, c = len(emissions_list), int(lens.max()), len(start)
    em = np.zeros((bsz, maxt, c))
    for i, e in enumerate(emissions_list):
        if len(e):
            em[i, : len(e)] = e

    score = start[None, :] + em[:, 0]  # (B, C)
    history = np.zeros((bsz, maxt, c), dtype=np.int64)
    for t in range(1, maxt):
        total = score[:, :, None] + trans[None, :, :] + em[:, t][:, None, :]
        best_prev = total.argmax(axis=1)  # (B, C)
        new_score = np.take_along_axis(total, best_prev[:, None, :], axis=1)[:, 0, :]
        active = (t < lens)[:, None]
        score = np.where(active, new_score, score)
        history[:, t] = np.where(active, best_prev, np.arange(c)[None, :])

    final = score + end[None, :]
    out: list[list[int]] = []
    for i, ln in enumerate(lens):
        if ln == 0:
            out.append([])
            continue
        best = int(final[i].argmax())
        path = [best]
        for t in range(int(ln) - 1, 0, -1):
            best = int(history[i, t, best])
            path.append(best)
        out.append(path[::-1])
    return out
