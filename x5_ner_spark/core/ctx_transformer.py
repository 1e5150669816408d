"""CONTEXTUAL emission provider: a real (small) transformer encoder in
numpy — closes the context-free caveat on the r6 mean-cache numbers.

The production model the reference loads (ner/infer.py:141-189; xlm-roberta
per configs/train.yaml) is CONTEXTUAL: a word's probability row depends on
the whole sequence through self-attention, so per-word / per-piece-sequence
caches (core/subword.py's ``_word_mean``) can never be reused across
contexts. Every in-repo emission model before this module was context-free,
which made those caches valid — and made their measured throughput
non-transferable to the production model. This module supplies the missing
measurement subject: a genuine transformer forward (learned piece + position
embeddings, ≥2 pre-LN self-attention blocks with multi-head attention and
relu MLPs, final layer norm, 9-class softmax head) over the SAME WordPiece
tokenizer/truncation machinery as core/subword.py, exported through the same
npz checkpoint convention and served through the same ``provider_for`` swap
point — so ``fused_triples(pages, emission_npz=ctx_ckpt)`` benches the
contextual inference cost with zero changes above the provider layer.

Caching discipline (the point of the exercise): the ONLY cache is keyed by
the ENTIRE text — the full context — because that is the only key under
which a transformer's outputs are reusable. There is deliberately no
piece-sequence or word-level cache here.

Determinism: each text's sequence is processed individually (never padded
into a cross-text batch), so a text's forward pass always runs the same
numpy ops on the same shapes — results are bit-identical regardless of how
Arrow batched the rows, and identical between driver-side (pytest oracle)
and executor-side (same interpreter + numpy) evaluation.

Pure python + numpy (core/ rule: no Spark imports).
"""

from __future__ import annotations

import numpy as np

from .subword import BOS, EOS, UNK, SubwordTokenizer

N_CLASSES = 9  # BIO_TAGS order (core/spans.py)


def write_ctx_checkpoint(
    path: str,
    vocab: list[str],
    d: int = 32,
    n_heads: int = 4,
    n_blocks: int = 2,
    d_ff: int = 64,
    max_len: int = 160,
    seed: int = 13,
) -> str:
    """Deterministic contextual-transformer checkpoint: piece vocabulary +
    embedding/position tables + stacked per-block attention/MLP weights +
    final-LN + 9-class head. Layout mirrors a real encoder export closely
    enough that swapping in trained weights is a pure data change."""
    if d % n_heads:
        raise ValueError(f"d={d} not divisible by n_heads={n_heads}")
    vocab = list(vocab)
    for special in (UNK, BOS, EOS):
        if special not in vocab:
            vocab.append(special)
    rng = np.random.RandomState(seed)
    v = len(vocab)

    def w(*shape, scale=None):
        scale = scale if scale is not None else 1.0 / np.sqrt(shape[-2])
        return (rng.randn(*shape) * scale).astype("float32")

    np.savez(
        path,
        vocab=np.array(vocab),  # fixed-width unicode: allow_pickle=False
        emb=w(v, d, scale=1.0 / np.sqrt(d)),
        pos=w(max_len, d, scale=1.0 / np.sqrt(d)),
        cont=w(d, scale=1.0 / np.sqrt(d)),  # '##'-continuation marker vector
        wq=w(n_blocks, d, d), bq=np.zeros((n_blocks, d), "float32"),
        wk=w(n_blocks, d, d), bk=np.zeros((n_blocks, d), "float32"),
        wv=w(n_blocks, d, d), bv=np.zeros((n_blocks, d), "float32"),
        wo=w(n_blocks, d, d), bo=np.zeros((n_blocks, d), "float32"),
        ln1_g=np.ones((n_blocks, d), "float32"),
        ln1_b=np.zeros((n_blocks, d), "float32"),
        ln2_g=np.ones((n_blocks, d), "float32"),
        ln2_b=np.zeros((n_blocks, d), "float32"),
        fw1=w(n_blocks, d, d_ff), fb1=np.zeros((n_blocks, d_ff), "float32"),
        fw2=w(n_blocks, d_ff, d), fb2=np.zeros((n_blocks, d), "float32"),
        lnf_g=np.ones(d, "float32"),
        lnf_b=np.zeros(d, "float32"),
        head_w=w(d, N_CLASSES),
        head_b=np.zeros(N_CLASSES, "float32"),
        n_heads=np.array(n_heads, dtype="int64"),
        max_len=np.array(max_len, dtype="int64"),
        seed=np.array(seed, dtype="int64"),
    )
    return path if path.endswith(".npz") else path + ".npz"


def _layer_norm(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = ((x - mu) ** 2).mean(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + 1e-5) * g + b


class CtxTransformerProvider:
    """Checkpoint-on-disk contextual provider (``seq_level = True``) —
    same interface as SubwordEmissionProvider, genuinely contextual forward.
    Instantiate via core.emission.provider_for (the per-worker singleton,
    which writes the ``.loads`` audit line — the reference's lazy
    checkpoint singleton, service/app.py:20-34)."""

    seq_level = True

    def __init__(self, path: str):
        with np.load(path, allow_pickle=False) as z:
            vocab = [str(p) for p in z["vocab"]]
            f64 = lambda k: z[k].astype("float64")
            self.emb, self.pos, self.cont = f64("emb"), f64("pos"), f64("cont")
            self.blocks = [
                {
                    k: f64(k)[i]
                    for k in (
                        "wq", "bq", "wk", "bk", "wv", "bv", "wo", "bo",
                        "ln1_g", "ln1_b", "ln2_g", "ln2_b",
                        "fw1", "fb1", "fw2", "fb2",
                    )
                }
                for i in range(z["wq"].shape[0])
            ]
            self.lnf_g, self.lnf_b = f64("lnf_g"), f64("lnf_b")
            self.head_w, self.head_b = f64("head_w"), f64("head_b")
            self.n_heads = int(z["n_heads"])
            self.max_len = int(z["max_len"])
        for blk in self.blocks:
            # fused QKV projection: one (t,d)@(d,3d) gemm replaces three
            # (t,d)@(d,d) gemms per block (measured 2-3×/core with the
            # batched-matmul attention below; checkpoint layout unchanged —
            # the fusion is a load-time concat)
            blk["wqkv"] = np.concatenate([blk["wq"], blk["wk"], blk["wv"]], axis=1)
            blk["bqkv"] = np.concatenate([blk["bq"], blk["bk"], blk["bv"]])
        self.tokenizer = SubwordTokenizer(vocab)
        self.bos_id = self.tokenizer.piece_id[BOS]
        self.eos_id = self.tokenizer.piece_id[EOS]
        self.path = path
        # context-keyed cache: the FULL text is the key — the only unit a
        # contextual model's outputs can be reused under. No word/piece-level
        # cache exists on this provider (that is the r6 caveat, closed).
        self._text_cache: dict[str, tuple] = {}

    # --------------------------------------------------------------- forward
    def _forward_piece_feats(
        self, ids: list[int], conts: list[bool]
    ) -> np.ndarray:
        """Post-final-LN hidden rows for the content pieces of ONE sequence
        — the frozen-encoder features the head (and the head probe trainer,
        operators/ctx_train.py) consume. The sequence is <s> + pieces +
        </s> (specials occupy positions like HF); returns (len(ids), d)."""
        seq = [self.bos_id] + ids + [self.eos_id]
        t = len(seq)
        x = self.emb[seq] + self.pos[:t]
        cmask = np.array([False] + conts + [False])
        x = x + np.where(cmask[:, None], self.cont[None, :], 0.0)
        d = x.shape[1]
        hd = d // self.n_heads
        inv = 1.0 / np.sqrt(hd)
        for blk in self.blocks:
            # pre-LN multi-head self-attention (bidirectional — encoder).
            # Heads live as the BATCH axis of np.matmul (H,t,hd) — einsum
            # strings here measured ~2.5× slower (interpreted reduction
            # path), same lesson as the interpreted-HOF findings in dedup.
            a_in = _layer_norm(x, blk["ln1_g"], blk["ln1_b"])
            qkv = a_in @ blk["wqkv"] + blk["bqkv"]
            q = qkv[:, :d].reshape(t, self.n_heads, hd).transpose(1, 0, 2)
            k = qkv[:, d : 2 * d].reshape(t, self.n_heads, hd).transpose(1, 0, 2)
            v = qkv[:, 2 * d :].reshape(t, self.n_heads, hd).transpose(1, 0, 2)
            scores = (q @ k.swapaxes(1, 2)) * inv
            scores -= scores.max(axis=-1, keepdims=True)
            att = np.exp(scores)
            att /= att.sum(axis=-1, keepdims=True)
            ctx = (att @ v).transpose(1, 0, 2).reshape(t, -1)
            x = x + ctx @ blk["wo"] + blk["bo"]
            # pre-LN relu MLP
            m_in = _layer_norm(x, blk["ln2_g"], blk["ln2_b"])
            h = np.maximum(m_in @ blk["fw1"] + blk["fb1"], 0.0)
            x = x + h @ blk["fw2"] + blk["fb2"]
        x = _layer_norm(x, self.lnf_g, self.lnf_b)
        return x[1:-1]

    def _forward_piece_probs(
        self, ids: list[int], conts: list[bool]
    ) -> np.ndarray:
        """Softmax head over :meth:`_forward_piece_feats` — (len(ids), 9)."""
        logits = self._forward_piece_feats(ids, conts) @ self.head_w + self.head_b
        m = logits.max(axis=1, keepdims=True)
        e = np.exp(logits - m)
        return e / e.sum(axis=1, keepdims=True)

    def word_features_for_texts(
        self, texts: list[str]
    ) -> list[tuple[list[tuple[int, int]], list[tuple[float, ...]]]]:
        """Per text: (covered word spans, per-word FEATURE tuples) — the
        mean of covered pieces' post-final-LN rows, i.e. the frozen-encoder
        representation the head probe trains on. Uncached (training-side
        one-pass surface; the text cache stays a probability cache)."""
        out = []
        for t in texts:
            enc = self.tokenizer.encode_text(t, self.max_len)
            ids = [p for _, _, ps in enc for p, _ in ps]
            conts = [c for _, _, ps in enc for _, c in ps]
            spans: list[tuple[int, int]] = []
            feats: list[tuple[float, ...]] = []
            if ids:
                rows = self._forward_piece_feats(ids, conts)
                at = 0
                for ws, we, ps in enc:
                    chunk = rows[at : at + len(ps)]
                    at += len(ps)
                    spans.append((ws, we))
                    feats.append(tuple(float(x) for x in chunk.mean(axis=0)))
            out.append((spans, feats))
        return out

    def word_probs_for_texts(
        self, texts: list[str]
    ) -> list[tuple[list[tuple[int, int]], list[tuple[float, ...]]]]:
        """Per text: (covered word spans, per-word probability tuples) —
        word prob is the MEAN of its covered pieces' CONTEXTUAL softmax rows
        (ref infer.py:199-221 aggregation over a contextual model's output),
        spans/truncation from the shared WordPiece machinery."""
        out = []
        for t in texts:
            got = self._text_cache.get(t)
            if got is None:
                enc = self.tokenizer.encode_text(t, self.max_len)
                ids = [p for _, _, ps in enc for p, _ in ps]
                conts = [c for _, _, ps in enc for _, c in ps]
                spans: list[tuple[int, int]] = []
                probs: list[tuple[float, ...]] = []
                if ids:
                    rows = self._forward_piece_probs(ids, conts)
                    at = 0
                    for ws, we, ps in enc:
                        chunk = rows[at : at + len(ps)]
                        at += len(ps)
                        spans.append((ws, we))
                        probs.append(tuple(float(x) for x in chunk.mean(axis=0)))
                got = (spans, probs)
                if len(self._text_cache) > (1 << 14):
                    self._text_cache.clear()
                self._text_cache[t] = got
            out.append(got)
        return out
