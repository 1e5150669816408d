"""S5: plain-text lexicon source (one normalized term per line,
frequency-ordered). Parity: ner/infer.py:62-68."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_lexicon(spark: SparkSession, path: str) -> DataFrame:
    """Non-blank trimmed lines as (term)."""
    return (
        spark.read.text(path)
        .select(F.trim("value").alias("term"))
        .filter(F.length("term") > 0)
    )


def read_lexicon_set(spark: SparkSession, path: str) -> frozenset[str]:
    """Driver-side set for broadcasting into the mention UDF."""
    return frozenset(r["term"] for r in read_lexicon(spark, path).collect())
