"""Arrow-vectorized UDFs for text extraction, mention detection, serialization.

These wrap the pure functions in ``x5_ner_spark.core`` — the same code the
pytest oracle runs — so Spark output is byte-identical to the oracle by
construction. All UDFs are iterator-style ``pandas_udf`` (one Python-worker
setup per partition, Arrow batch transfer; ref lifecycle SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.html_text import extract_text
from ..core.mention_pipeline import mention_detector
from ..core.spans import serialize_spans

SPAN_STRUCT = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("tag", StringType(), False),
    ]
)
SPAN_ARRAY = ArrayType(SPAN_STRUCT)


def _spans_to_rows(spans) -> list[tuple[int, int, str]]:
    return [(int(s), int(e), str(t)) for s, e, t in spans]


@pandas_udf(StringType())
def extract_text_udf(html: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """html binary → text (pure, pinned; core/html_text.py)."""
    for batch in html:
        yield batch.map(extract_text)


def make_mentions_udf(
    brand_lexicon=frozenset(), *, decode: str = "cascade",
    emission_npz: str | None = None, long_doc: str = "truncate",
    chunk_stride: int | None = None,
):
    """Mention-detection UDF factory. ``brand_lexicon`` may be a frozenset or
    a ``sparkContext.broadcast`` handle (unwrapped lazily on the executor).

    ``decode='crf'`` selects the flag-gated CRF Viterbi path (batched decode
    over the deterministic stub transition matrix; core/crf.py) instead of
    the probability cascade — opt-in because the reference itself computes
    and then discards the Viterbi path in inference (infer.py:189).

    ``emission_npz`` swaps the emission model for a weights-on-disk numpy
    checkpoint (core/emission.py), loaded ONCE per Python worker process via
    ``provider_for`` — the engine's analog of the reference's checkpoint load
    (infer.py:141-147). Honored by the batched cascade (default) AND the CRF
    path (emissions = log of the provider's per-word probability rows);
    None = the pinned stub.

    ``long_doc='windowed'`` lifts the sequence-level providers' max_len
    truncation (ref infer.py:165-171) via chunked inference — overlapping
    ``chunk_stride``-piece windows with most-interior overlap resolution
    (core/chunked.py). 'truncate' (default) is the reference's pinned
    behavior; word-level providers are unaffected by either.

    Arguments are checked here, on the driver; the worker state (sorted
    lexicon list, provider) is built once per partition by the shared
    ``core.mention_pipeline.mention_detector`` — the Spark analog of the
    reference's lazy model singleton (service/app.py:20-34)."""
    load = mention_detector(
        brand_lexicon, decode=decode, emission_npz=emission_npz,
        long_doc=long_doc, chunk_stride=chunk_stride,
    )

    @pandas_udf(SPAN_ARRAY)
    def mentions(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        detect = load()
        for batch in texts:
            # batched N3 shape: one vectorized model call per micro-batch
            # of words across the whole Arrow batch
            spans = detect(["" if t is None else t for t in batch])
            yield pd.Series([_spans_to_rows(s) for s in spans])

    return mentions


@pandas_udf(StringType())
def serialize_spans_udf(spans_col: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Byte-exact reference serialization (ner/utils.py:83-89, F19)."""
    for spans_s in spans_col:
        yield spans_s.map(lambda spans: serialize_spans(
            [(r["start"], r["end"], r["tag"]) for r in (() if spans is None else spans)]))
