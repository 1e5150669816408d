"""Stage 1 — HTML → text extraction.

Per-row invariant (BASELINE.json): byte-identical extracted text per url —
guaranteed because the UDF calls the same pure function as the oracle
(core/html_text.extract_text).

Scale notes: the only column read besides ``html`` is ``url`` (Catalyst
prunes the rest); rows whose ``text`` is already populated skip the UDF via
``F.when`` so re-runs are cheap.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from ..core.html_text import extract_text


@pandas_udf(StringType())
def extract_text_udf(html: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """html binary → text (pure, pinned; core/html_text.py). Iterator-style:
    one Python-worker set-up per partition, Arrow batch transfer."""
    for batch in html:
        yield batch.map(extract_text)


def run(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → same schema with text filled."""
    need = (F.col("text").isNull()) | (F.length("text") == 0)
    return pages.withColumn(
        "text", F.when(need, extract_text_udf(F.col("html"))).otherwise(F.col("text"))
    )
