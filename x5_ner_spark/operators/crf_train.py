"""Distributed CRF Viterbi decode over the pinned stub model (N3/N4 decode
surface): one map-only Arrow stage per documents scan, the engine side of
the driver-contract query whose DuckDB oracle unrolls a bounded-T Viterbi.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.spans import BIO_TAGS


CRF_DECODE_SCHEMA = "doc_id long, wid int, token_text string, label string"


def crf_decode_tokens(
    docs: DataFrame,
    t_max: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed Viterbi decode (N3/N4 decode surface, ref
    infer.py:186-189): per document, the first ``t_max`` word tokens go
    through the pinned stub emission model (softmax rows — the same
    md5→LCG→softmax surface the decision-log oracle replays) and the
    hash-derived stub CRF transitions (core/crf.stub_crf_params), and the
    arg-max label PATH comes out as one row per decoded word.

    ``t_max`` bounds the decode window — the knob that makes the DP
    expressible in the DuckDB oracle (unrolled bounded-T Viterbi) while the
    engine path itself is unbounded (viterbi_decode_batch pads per
    micro-batch). Map-only over the documents scan: no shuffle; emissions
    and the DP never leave the Arrow worker — at corpus scale this is the
    same linear shape as mention detection."""
    import pandas as pd

    from ..core.crf import stub_crf_params, viterbi_decode_batch
    from ..core.numeric import tokenize_with_offsets
    from ..core.stub_model import batch_probabilities
    from ..core.textnorm import norm_token_simple

    start, trans, end = stub_crf_params()

    def gen(pdfs):
        for pdf in pdfs:
            ids, toks_per_doc, ems = [], [], []
            for did, text in zip(pdf["_id"], pdf["_text"]):
                toks = tokenize_with_offsets("" if text is None else text)[:t_max]
                if not toks:
                    continue
                keys = [
                    (norm_token_simple(w), i > 0)
                    for i, (w, _, _) in enumerate(toks)
                ]
                ids.append(did)
                toks_per_doc.append(toks)
                ems.append(batch_probabilities(keys))
            paths = viterbi_decode_batch(ems, start, trans, end)
            rows = []
            for did, toks, path in zip(ids, toks_per_doc, paths):
                for wid, ((w, _, _), lab) in enumerate(zip(toks, path)):
                    rows.append((did, wid, w, BIO_TAGS[lab]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "wid", "token_text", "label"]
            )

    keyed = docs.select(
        F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_text")
    )
    return keyed.mapInPandas(gen, CRF_DECODE_SCHEMA)
