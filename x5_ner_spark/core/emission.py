"""Pluggable emission providers for the mention-detection inference stage.

The reference loads a real HF checkpoint from disk once per process and
serves every request from that singleton (ner/infer.py:141-147 checkpoint
load, ner/train.py:73-108 save; service/app.py:20-34 lazy singleton). torch/
transformers are absent from this container (verified), so full weight
parity is impossible here — but the checkpoint-load PATH is not: this module
ships a numpy weights-on-disk provider (``NpzMlpProvider``) that exercises
everything a real checkpoint exercises on an executor:

- load an .npz weight file from disk ONCE per Python worker process
  (``provider_for`` module-level cache — the Spark analog of the reference's
  model singleton), with load events auditable via a ``<path>.loads`` log;
- vectorized forward over a token micro-batch (hashed char-trigram features
  → 2-layer MLP → softmax), so executor memory/batching behavior matches a
  real emission model rather than the hash stub;
- the SAME swap point as a real checkpoint: ``batch_probabilities`` — the
  cascade, post-process and triple layers above are provider-agnostic.

The weight fixture (``write_npz_checkpoint``) is generated deterministically
from a seed, so tests are reproducible without shipping binary weights.
"""

from __future__ import annotations

import hashlib
import os
from functools import lru_cache

import numpy as np

N_CLASSES = 9  # BIO_TAGS order (core/spans.py)


def write_npz_checkpoint(
    path: str, n_features: int = 256, hidden: int = 32, seed: int = 7,
) -> str:
    """Deterministic 2-layer-MLP weight fixture. Layout mirrors what a real
    export would hold: input layer over hashed char-trigram features (+1
    continuation flag), hidden relu layer, 9-class output head."""
    rng = np.random.RandomState(seed)
    d_in = n_features + 1
    np.savez(
        path,
        w1=(rng.randn(d_in, hidden) / np.sqrt(d_in)).astype("float32"),
        b1=(0.01 * rng.randn(hidden)).astype("float32"),
        w2=(rng.randn(hidden, N_CLASSES) / np.sqrt(hidden)).astype("float32"),
        b2=(0.01 * rng.randn(N_CLASSES)).astype("float32"),
        n_features=np.array(n_features, dtype="int64"),
        seed=np.array(seed, dtype="int64"),
    )
    return path if path.endswith(".npz") else path + ".npz"


@lru_cache(maxsize=1 << 16)
def _gram_indices(tok: str, n_features: int) -> tuple[int, ...]:
    """Char-trigram bucket ids of '^tok$' — md5-hashed (portable, engine-
    independent), cached per token (Zipf pays for itself)."""
    s = f"^{tok}$"
    out = []
    for i in range(max(len(s) - 2, 1)):
        g = s[i : i + 3]
        h = int.from_bytes(hashlib.md5(g.encode("utf-8")).digest()[:4], "big")
        out.append(h % n_features)
    return tuple(out)


class NpzMlpProvider:
    """Weights-on-disk emission provider: .npz → vectorized MLP forward.

    Instantiate via :func:`provider_for` (per-process singleton); direct
    construction loads the file eagerly. Each instance owns its probability
    cache (keyed (norm_token, continuation)), so two providers never share
    state with each other or with the stub model's cache.
    """

    def __init__(self, path: str):
        with np.load(path) as z:
            self.w1 = z["w1"].astype("float64")
            self.b1 = z["b1"].astype("float64")
            self.w2 = z["w2"].astype("float64")
            self.b2 = z["b2"].astype("float64")
            self.n_features = int(z["n_features"])
        self.path = path
        self.prob_cache: dict[tuple[str, bool], tuple[float, ...]] = {}
        self.prob_cache_max = 1 << 16

    def batch_logits(self, tokens_conts: list[tuple[str, bool]]) -> np.ndarray:
        """Forward pass, bit-identical for a row regardless of batch shape
        (batch≡scalar): layer 1 is a sparse gather-sum in gram order (the
        feature bag has ~len(tok) non-zeros — also cheaper than a dense
        gemm), layer 2 a broadcast-multiply + axis reduction whose pairwise
        summation tree is per-row, so BLAS gemm-vs-gemv reduction-order
        drift can't make results depend on how the kernel micro-batched."""
        if not tokens_conts:
            return np.zeros((0, N_CLASSES))
        h = np.empty((len(tokens_conts), self.w1.shape[1]))
        for r, (tok, cont) in enumerate(tokens_conts):
            acc = self.b1.copy()
            for j in _gram_indices(tok, self.n_features):
                acc += self.w1[j]
            if cont:
                acc += self.w1[self.n_features]
            h[r] = acc
        np.maximum(h, 0.0, out=h)
        return (h[:, :, None] * self.w2[None, :, :]).sum(axis=1) + self.b2

    def batch_probabilities(self, tokens_conts: list[tuple[str, bool]]) -> np.ndarray:
        logits = self.batch_logits(tokens_conts)
        if not len(logits):
            return logits
        m = logits.max(axis=1, keepdims=True)
        e = np.exp(logits - m)
        return e / e.sum(axis=1, keepdims=True)


# ------------------------------------------------------------- training math
# Pure-numpy softmax-CE gradients for the same 2-layer MLP the provider
# serves — the distributed trainer (operators/emission_train.py) computes
# per-partition gradient sums with these and the driver applies the update
# (full-batch GD, the classic MLlib shape). Mirrors what the reference's
# torch trainer produces for its head (ner/train.py:31-62) at the scale this
# sandbox can verify: analytic grads are numerically checked in tests.


def featurize_batch(tokens_conts: "list[tuple[str, bool]]", n_features: int) -> np.ndarray:
    """Dense feature matrix for a token batch — same hashed char-trigram bag
    + continuation flag the provider's forward consumes."""
    x = np.zeros((len(tokens_conts), n_features + 1))
    for r, (tok, cont) in enumerate(tokens_conts):
        for j in _gram_indices(tok, n_features):
            x[r, j] += 1.0
        if cont:
            x[r, n_features] = 1.0
    return x


def mlp_forward(params: dict, x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h_pre, h, logits) — the intermediates the backward pass needs."""
    h_pre = x @ params["w1"] + params["b1"]
    h = np.maximum(h_pre, 0.0)
    return h_pre, h, h @ params["w2"] + params["b2"]


def mlp_backward(
    params: dict, x: np.ndarray, h_pre: np.ndarray, h: np.ndarray,
    g_logits: np.ndarray,
) -> dict:
    """Parameter gradients given dLoss/dLogits (chain-rule entry point for
    any head — softmax CE or the CRF NLL's expected-minus-empirical)."""
    g_h = g_logits @ params["w2"].T
    g_h[h_pre <= 0.0] = 0.0
    return {
        "w1": x.T @ g_h,
        "b1": g_h.sum(axis=0),
        "w2": h.T @ g_logits,
        "b2": g_logits.sum(axis=0),
    }


def mlp_loss_and_grads(
    params: dict, x: np.ndarray, y: np.ndarray,
) -> tuple[float, dict]:
    """Summed (not averaged) cross-entropy loss and parameter gradients for
    a batch — sums add across partitions, so the driver can normalize by the
    global count after aggregation."""
    h_pre, h, logits = mlp_forward(params, x)
    m = logits.max(axis=1, keepdims=True)
    e = np.exp(logits - m)
    p = e / e.sum(axis=1, keepdims=True)
    n = x.shape[0]
    loss = float(-np.log(np.clip(p[np.arange(n), y], 1e-12, None)).sum())
    g_logits = p
    g_logits[np.arange(n), y] -= 1.0
    return loss, mlp_backward(params, x, h_pre, h, g_logits)


def init_mlp_params(n_features: int = 256, hidden: int = 32, seed: int = 7) -> dict:
    """Same deterministic init as write_npz_checkpoint (float64 working
    copies)."""
    rng = np.random.RandomState(seed)
    d_in = n_features + 1
    return {
        "w1": (rng.randn(d_in, hidden) / np.sqrt(d_in)),
        "b1": 0.01 * rng.randn(hidden),
        "w2": (rng.randn(hidden, N_CLASSES) / np.sqrt(hidden)),
        "b2": 0.01 * rng.randn(N_CLASSES),
        "n_features": n_features,
    }


def save_params_npz(params: dict, path: str) -> str:
    """Persist trained params in the exact layout NpzMlpProvider loads.
    Returns the ACTUAL file path (np.savez appends '.npz' when missing)."""
    np.savez(
        path,
        w1=params["w1"].astype("float32"),
        b1=params["b1"].astype("float32"),
        w2=params["w2"].astype("float32"),
        b2=params["b2"].astype("float32"),
        n_features=np.array(params["n_features"], dtype="int64"),
        seed=np.array(-1, dtype="int64"),
    )
    return path if path.endswith(".npz") else path + ".npz"


_PROVIDERS: dict[str, tuple[float, object]] = {}


def provider_for(path: str):
    """Per-process provider singleton: the .npz is read from disk at most
    once per (path, mtime) per Python worker — every partition and Arrow
    batch that worker processes reuses the loaded weights (the reference's
    lazy model singleton, service/app.py:20-34). An updated file (new mtime)
    triggers exactly one reload. Each load appends the worker's pid to
    ``<path>.loads`` (read back by :func:`load_count`).

    Dispatch by checkpoint contents: an npz carrying attention weights
    (``wq``) is a CONTEXTUAL transformer checkpoint (core/ctx_transformer.py
    — the production-model shape, ref infer.py:178-183); one carrying only a
    ``vocab`` array is the context-free sequence-level subword checkpoint
    (core/subword.py — real tokenizer offsets + max_len truncation, ref
    infer.py:141-189); otherwise the word-level MLP checkpoint."""
    key = os.path.abspath(path)
    mtime = os.path.getmtime(key)
    hit = _PROVIDERS.get(key)
    if hit is None or hit[0] != mtime:
        with np.load(key, allow_pickle=False) as z:
            files = set(z.files)
        if "wq" in files:
            from .ctx_transformer import CtxTransformerProvider

            prov = CtxTransformerProvider(key)
        elif "vocab" in files:
            from .subword import SubwordEmissionProvider

            prov = SubwordEmissionProvider(key)
        else:
            prov = NpzMlpProvider(key)
        _PROVIDERS[key] = (mtime, prov)
        try:  # auditable load event (tiny, best-effort): one line per load
            with open(key + ".loads", "a") as f:
                f.write(f"{os.getpid()}\n")
        except OSError:
            pass
    return _PROVIDERS[key][1]


def load_count(path: str) -> int:
    """Number of recorded load events for ``path`` (lines in the .loads log)."""
    try:
        with open(os.path.abspath(path) + ".loads") as f:
            return sum(1 for _ in f)
    except OSError:
        return 0
