"""Distributed gradient training of the npz emission MLP (closes N4's
remaining half; ref analog ner/train.py:31-108 trains the token classifier
and saves a checkpoint the inference path loads).

Shape: full-batch gradient descent, the canonical MLlib pattern — per
iteration ONE Spark job computes per-partition (loss, gradient) sums in the
shared gradient pass (operators/gradient.py; pure-numpy math shared with
core/emission.py, so the trained weights serve through the exact forward
they were trained with); the driver sums the handful of partition rows,
applies the update, and the
next iteration broadcasts the new weights via closure capture. Gradient
state per partition is one flattened float64 array (~8.5k values at the
default sizes) — the shuffle-free aggregation that scales to any corpus
size, since gradient row count = partition count, not token count.

Labels come from any (token, cont, label_idx) table; ``teacher_labels``
builds one from the pinned stub model (argmax), giving a fully in-engine
train → checkpoint → load → infer loop that tests verify end to end.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import obs
from ..core import emission as E
from .gradient import gradient_sums, training_set


_MLP_KEYS = ("w1", "b1", "w2", "b2")
_CRF_KEYS = _MLP_KEYS + ("start", "trans", "end")


def _flatten(grads: dict, keys: tuple) -> np.ndarray:
    return np.concatenate([np.asarray(grads[k]).ravel() for k in keys])


def _descend(params: dict, g: np.ndarray, keys: tuple, lr: float) -> None:
    """params[k] -= lr · (k's slice of the flat gradient ``g``)."""
    off = 0
    for k in keys:
        size = params[k].size
        params[k] = params[k] - lr * g[off : off + size].reshape(params[k].shape)
        off += size


def teacher_labels(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc table) → (token, cont, label_idx) training rows labeled by the
    pinned stub model's argmax class — the deterministic teacher for the
    end-to-end demo. One map-only pass."""

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.numeric import tokenize_with_offsets
        from ..core.stub_model import batch_probabilities
        from ..core.textnorm import norm_token_simple

        for pdf in pdfs:
            keys: list[tuple[str, bool]] = []
            for t in pdf[text_col]:
                if not isinstance(t, str) or not t.strip():
                    continue
                toks = tokenize_with_offsets(t)
                keys.extend(
                    (norm_token_simple(w), i > 0) for i, (w, _, _) in enumerate(toks)
                )
            if not keys:
                yield pd.DataFrame({"token": [], "cont": [], "label_idx": []})
                continue
            probs = batch_probabilities(keys)
            yield pd.DataFrame({
                "token": [k[0] for k in keys],
                "cont": [k[1] for k in keys],
                "label_idx": probs.argmax(axis=1).astype("int64"),
            })

    return docs.select(text_col).mapInPandas(
        gen, "token string, cont boolean, label_idx long"
    )


def teacher_sequences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc table) → per-document (tokens, conts, tags) sequence rows, tags
    from the pinned stub model's argmax — the sequence-level teacher for
    CRF training. Map-only."""

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.numeric import tokenize_with_offsets
        from ..core.stub_model import batch_probabilities
        from ..core.textnorm import norm_token_simple

        for pdf in pdfs:
            toks_col, conts_col, tags_col = [], [], []
            for t in pdf[text_col]:
                if not isinstance(t, str) or not t.strip():
                    continue
                toks = tokenize_with_offsets(t)
                if not toks:
                    continue
                keys = [(norm_token_simple(w), i > 0) for i, (w, _, _) in enumerate(toks)]
                tags = batch_probabilities(keys).argmax(axis=1)
                toks_col.append([k[0] for k in keys])
                conts_col.append([k[1] for k in keys])
                tags_col.append([int(x) for x in tags])
            yield pd.DataFrame(
                {"tokens": toks_col, "conts": conts_col, "tags": tags_col}
            )

    return docs.select(text_col).mapInPandas(
        gen, "tokens array<string>, conts array<boolean>, tags array<long>"
    )


def fit_crf_npz(
    seqs: DataFrame,
    out_path: str,
    n_features: int = 256,
    hidden: int = 32,
    iters: int = 30,
    lr: float = 0.5,
) -> str:
    """JOINT gradient training of the emission MLP and the linear-chain CRF
    (start/trans/end) by exact NLL — the full analog of the reference's
    encoder+CRF training loop (ner/train.py:31-62), distributed the same
    way as :func:`fit_npz_emission`: per-partition (nll, gradient) sums in
    the shared gradient pass (forward-backward per sequence, chain rule
    through the MLP via core.emission.mlp_backward), driver update, weights
    rebroadcast by closure. Saves an npz holding BOTH the provider weights
    and the CRF parameters (``crf_start``, ``crf_trans`` and ``crf_end``).
    Both trainers start from the seed-7 init of
    ``core.emission.init_mlp_params``."""
    from ..core.crf import crf_nll_and_grads
    from ..core.spans import BIO_TAGS

    c = len(BIO_TAGS)
    params = E.init_mlp_params(n_features, hidden)
    params["start"] = np.zeros(c)
    params["trans"] = np.zeros((c, c))
    params["end"] = np.zeros(c)

    def grad_part(snapshot: dict, batches):
        tot_loss, tot_n, acc = 0.0, 0, None
        for pdf in (b.to_pandas() for b in batches):
            for tokens, conts, tags in zip(pdf["tokens"], pdf["conts"], pdf["tags"]):
                keys = [(str(t), bool(ct)) for t, ct in zip(tokens, conts)]
                if not keys:
                    continue
                x = E.featurize_batch(keys, snapshot["n_features"])
                h_pre, h, logits = E.mlp_forward(snapshot, x)
                nll, g = crf_nll_and_grads(
                    logits, np.asarray(tags, dtype="int64"),
                    snapshot["start"], snapshot["trans"], snapshot["end"],
                )
                mg = E.mlp_backward(snapshot, x, h_pre, h, g["emissions"])
                vec = _flatten({**mg, "start": g["start"],
                                "trans": g["trans"], "end": g["end"]}, _CRF_KEYS)
                acc = vec if acc is None else acc + vec
                tot_loss += nll
                tot_n += len(keys)  # token count: the normalization unit
        return None if acc is None else (tot_n, tot_loss, acc)

    with training_set(seqs.select("tokens", "conts", "tags")) as (data, _):
        for it in range(iters):
            snapshot = {k: (v.copy() if hasattr(v, "copy") else v) for k, v in params.items()}
            n_tokens, loss_sum, g = gradient_sums(
                data, partial(grad_part, snapshot),
                sum(params[k].size for k in _CRF_KEYS),
            )
            # per-TOKEN normalization: sequence lengths vary, so per-sequence
            # averaging would scale the effective step with document length
            g /= max(n_tokens, 1)
            obs.event("train_loss", trainer="crf", iter=it, loss=loss_sum / max(n_tokens, 1))
            _descend(params, g, _CRF_KEYS, lr)

    np.savez(
        out_path,
        w1=params["w1"].astype("float32"), b1=params["b1"].astype("float32"),
        w2=params["w2"].astype("float32"), b2=params["b2"].astype("float32"),
        n_features=np.array(params["n_features"], dtype="int64"),
        seed=np.array(-1, dtype="int64"),
        crf_start=params["start"], crf_trans=params["trans"], crf_end=params["end"],
    )
    # np.savez appends '.npz' when missing - return the ACTUAL file path
    return out_path if out_path.endswith(".npz") else out_path + ".npz"


def fit_npz_emission(
    train: DataFrame,
    out_path: str,
    n_features: int = 256,
    hidden: int = 32,
    iters: int = 40,
    lr: float = 0.5,
) -> str:
    """train(token, cont, label_idx) → gradient-descended weights saved at
    ``out_path`` (NpzMlpProvider layout). Deterministic given the data:
    per-partition gradient sums are added in sorted partition order before
    the update. Returns the saved path."""
    params = E.init_mlp_params(n_features, hidden)

    def grad_part(snapshot: dict, batches):
        tot_loss, tot_n, acc = 0.0, 0, None
        for pdf in (b.to_pandas() for b in batches):
            if not len(pdf):
                continue
            keys = list(zip(pdf["token"].astype(str), pdf["cont"].astype(bool)))
            x = E.featurize_batch(keys, snapshot["n_features"])
            y = pdf["label_idx"].to_numpy().astype("int64")
            loss, grads = E.mlp_loss_and_grads(snapshot, x, y)
            vec = _flatten(grads, _MLP_KEYS)
            acc = vec if acc is None else acc + vec
            tot_loss += loss
            tot_n += len(pdf)
        return None if acc is None else (tot_n, tot_loss, acc)

    # materialize once: every iteration re-reads the same rows
    with training_set(train.select("token", "cont", "label_idx")) as (data, _):
        for it in range(iters):
            snapshot = {k: (v.copy() if hasattr(v, "copy") else v) for k, v in params.items()}
            n_total, loss_sum, g = gradient_sums(
                data, partial(grad_part, snapshot),
                sum(params[k].size for k in _MLP_KEYS),
            )
            g /= n_total
            obs.event("train_loss", trainer="emission", iter=it, loss=loss_sum / n_total)
            _descend(params, g, _MLP_KEYS, lr)
    return E.save_params_npz(params, out_path)
