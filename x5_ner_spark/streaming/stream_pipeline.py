"""Streaming mention detection: the batch stages applied to a stream.

Because extract.run / mentions.run / triples.run are pure DataFrame→DataFrame
plan functions with no actions inside, they compose directly onto a
streaming DataFrame — the Spark-idiomatic equivalent of the reference's
request/response service, with watermarked windowed aggregation replacing
its per-request statelessness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import extract, mentions


def stream_pages(
    spark: SparkSession, path: str, schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream over a pages directory (new files = new pages)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_triples(pages_stream: DataFrame, brand_lexicon: list[str] | None = None) -> DataFrame:
    """pages stream → (subj, pred, obj, url, warc_ts) stream. balance=False:
    repartitionByRange needs a batch sort — per-microbatch balancing is the
    trigger's job. warc_ts is carried through the stages (a stream-stream
    self-join would need watermark constraints for no benefit)."""
    from ..operators.span_udfs import triples_udf

    docs = extract.run(pages_stream)
    men = mentions.run(
        docs.select("url", "warc_ts", "text"), brand_lexicon, balance=False
    )
    t = men.select(
        "url", "warc_ts", F.explode(triples_udf(F.col("text"), F.col("spans"))).alias("tr")
    )
    return t.select(
        F.col("url").alias("subj"),
        F.col("tr.pred").alias("pred"),
        F.col("tr.obj").alias("obj"),
        "url",
        "warc_ts",
    )


def windowed_mention_counts(
    triples_stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per predicate — late pages beyond
    the watermark are dropped deterministically."""
    return (
        triples_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "pred")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "pred", "n_mentions")
    )


def run_stream_to_memory(
    spark: SparkSession, pages_path: str, table_name: str = "stream_triples",
    brand_lexicon: list[str] | None = None, timeout_s: int = 60,
):
    """Drive the stream into an in-memory sink until idle (test/demo helper);
    production uses writeStream.format('iceberg')/parquet with checkpoints."""
    tr = stream_triples(stream_pages(spark, pages_path), brand_lexicon)
    q = (
        tr.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return spark.table(table_name)


def stream_decision_log(
    pages_stream: DataFrame, brand_lexicon=frozenset()
) -> DataFrame:
    """pages stream → per-word decision-log stream: S8 as a LIVE debugging
    surface. decision_log is map-only mapInPandas (no state, no aggregation),
    so it composes onto any trigger; doc ids derive from the url hash."""
    from ..functions.columns import portable_hash32
    from ..operators.decision_log import decision_log

    docs = extract.run(pages_stream)
    keyed = docs.select(portable_hash32(F.col("url")).alias("doc_id"), "text")
    return decision_log(keyed, brand_lexicon)


def stream_triples_and_log(
    pages_stream: DataFrame, brand_lexicon=frozenset(),
    emission_npz: str | None = None,
) -> DataFrame:
    """pages stream → the one-pass fused triples + S8 decision-log union
    stream (rec_type column; pipeline/fused.fused_triples_and_log). Pure
    map-only mapInPandas, so it composes onto any trigger with no state;
    the optional npz emission checkpoint loads once per worker exactly as
    in batch."""
    from ..pipeline.fused import fused_triples_and_log

    return fused_triples_and_log(
        pages_stream, brand_lexicon, balance=False, emission_npz=emission_npz
    )
