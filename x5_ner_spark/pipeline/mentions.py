"""Stage 2 — mention detection (the reference's NER stage, Spark-first).

- model probabilities + rule cascade + post-process run inside ONE iterator
  pandas UDF (operators/span_udfs.make_mentions_udf) — Arrow batches, state
  loaded once per worker (ref lifecycle SURVEY.md §3.1);
- the brand lexicon is a driver-built broadcast (ref infer.py:62-72);
- round-robin ``repartition`` fans narrow scans out to every worker with an
  even length mix per partition (SURVEY.md §4 custom item 2; see run()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.span_udfs import make_mentions_udf


def build_brand_lexicon(
    annotated: DataFrame, text_col: str = "text", spans_col: str = "spans",
    min_len: int = 3, max_len: int = 30,
) -> DataFrame:
    """A1 lexicon build (ref scripts/build_brand_lexicon.py:58-118), fully
    native: explode BRAND spans → substring surface → whole-span + per-word
    normalized counts, length-filtered. Returns (term, freq) ordered by freq
    desc — shuffle is one groupBy on a term key.
    """
    spans = annotated.select(
        F.col(text_col).alias("_t"), F.explode(spans_col).alias("sp")
    ).filter(F.col("sp.tag").contains("BRAND"))
    surface = spans.select(
        F.substring(F.col("_t"), F.col("sp.start") + 1, F.col("sp.end") - F.col("sp.start")).alias("s")
    )
    whole = surface.select(
        F.regexp_replace(F.lower("s"), "[^0-9A-Za-zА-Яа-яЁё]+", "").alias("term")
    )
    words = surface.select(
        F.explode(F.split(F.lower("s"), "[^0-9A-Za-zА-Яа-яЁё]+")).alias("term")
    )
    return (
        whole.unionByName(words)
        .filter((F.length("term") >= min_len) & (F.length("term") <= max_len))
        .groupBy("term")
        .count()
        .withColumnRenamed("count", "freq")
        .orderBy(F.desc("freq"), "term")
    )


def run(
    docs: DataFrame,
    brand_lexicon: list[str] | None = None,
    spark: SparkSession | None = None,
    balance: bool = True,
    num_partitions: int | None = None,
    emission_npz: str | None = None,
) -> DataFrame:
    """docs(url, text, ...) → + spans array<struct<start,end,tag>>.

    ``balance`` ROUND-ROBIN repartitions so every Python worker gets an even
    mix of documents (round 3: the previous repartitionByRange on text
    length CONCENTRATED the longest documents into the same partitions —
    the straggler it claimed to prevent; round-robin is the shape that
    actually balances compute). Kept ON by default here because this stage
    often consumes single-file inputs whose scan is 1-2 partitions — the
    fan-out matters more than the shuffle; storage-scan callers with healthy
    partitioning can pass balance=False (see fused_triples, default off).
    Lexicons above broadcast-pickle size go through a real
    sparkContext.broadcast."""
    lex = frozenset(brand_lexicon or [])
    if spark is not None and len(lex) > 64:
        lex = spark.sparkContext.broadcast(lex)
    if balance:
        n = num_partitions or int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        docs = docs.repartition(n)
    udf = make_mentions_udf(lex, emission_npz=emission_npz)
    return docs.withColumn("spans", udf(F.col("text")))
