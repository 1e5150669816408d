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


def decision_log(docs: DataFrame, brand_lexicon=frozenset()) -> DataFrame:
    """(doc_id, text) table → per-word decision-log rows. ``brand_lexicon``
    may be a frozenset or a ``sparkContext.broadcast`` handle."""
    load = mention_detector(brand_lexicon)

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
        F.col("doc_id").cast("long").alias("_log_id"),
        F.col("text").alias("_log_text"),
    )
    return keyed.mapInPandas(gen, LOG_SCHEMA)
