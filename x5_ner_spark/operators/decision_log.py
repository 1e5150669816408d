"""S8 proper: the per-word decision-log sink.

One output row per DECIDED word — token, final BIO label, the cascade reason
code, the six probabilities and five feature flags of the reference's debug
log (ner/infer.py:411-413; column set of
scripts/make_submission_from_val.py:85-107). Runs the SAME shared-core
cascade as mention detection (core/cascade.decide_word_labels with log
capture), exploded via mapInPandas — so label/reason parity with the span
path is by construction, and the short-word break/row-skip semantics are the
reference's.

Scale shape: map-only over the documents scan (no shuffle); output is
~tokens-per-doc × docs rows, written partitioned like any fact table.
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.mention_pipeline import mention_detector

# one row per decided word: doc_id, then the 15 fields of its log record
LOG_SCHEMA = (
    "doc_id long, token_text string, start int, end int, label string, "
    "reason string, p_brand double, p_type double, in_lex boolean, "
    "fuzzy_hit boolean, pure_lat boolean, short_lat boolean, "
    "has_vowel boolean, p_brand_sum double, p_type_sum double, p_o double"
)
LOG_COLUMNS = [f.split(" ")[0] for f in LOG_SCHEMA.split(", ")]
# record dict → the tuple of its field values, in schema order
log_values = itemgetter(*LOG_COLUMNS[1:])


def decision_log(
    docs: DataFrame,
    brand_lexicon=frozenset(),
    id_col: str = "doc_id",
    text_col: str = "text",
    emission_npz: str | None = None,
    decode: str = "cascade",
    long_doc: str = "truncate",
    chunk_stride: int | None = None,
) -> DataFrame:
    """(id, text) table → per-word decision-log rows. ``brand_lexicon`` may
    be a frozenset or a ``sparkContext.broadcast`` handle. ``emission_npz``
    swaps the emission model for a weights-on-disk checkpoint
    (core/emission.py) so the log reflects the DEPLOYED model's
    probabilities, consistent with fused_triples.

    ``decode='crf'`` logs the Viterbi decoder instead of the rule cascade
    (VERDICT r7 #6): same schema, ``reason='crf_viterbi'``, lexicon flags
    honest-False (Viterbi consults no lexicon — the lexicon arg is unused
    there). ``long_doc='windowed'`` + ``chunk_stride`` apply the chunked
    long-document wrapper to sequence-level checkpoints, as in
    fused_triples (core/chunked.py)."""
    load = mention_detector(
        brand_lexicon, decode=decode, emission_npz=emission_npz,
        long_doc=long_doc, chunk_stride=chunk_stride,
    )

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        detect = load()
        for pdf in pdfs:
            logs: list[list[dict]] = []
            detect(["" if t is None else t for t in pdf["_log_text"]], logs)
            rows = [
                (did, *log_values(r))
                for did, recs in zip(pdf["_log_id"], logs)
                for r in recs
            ]
            yield pd.DataFrame(rows, columns=LOG_COLUMNS)

    keyed = docs.select(
        F.col(id_col).cast("long").alias("_log_id"),
        F.col(text_col).alias("_log_text"),
    )
    return keyed.mapInPandas(gen, LOG_SCHEMA)
