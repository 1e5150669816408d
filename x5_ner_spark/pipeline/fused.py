"""Fused linear path: pages → triples in ONE Arrow stage.

All per-document work (HTML→text, mention detection, post-process, triple
emission) runs in a single ``mapInPandas``: one Arrow transfer in, one out,
where a chain of per-step UDFs would serialize the text column JVM↔Python
at every hop. The same pure core functions run inside it, so output is
row-identical to the driver oracle (``core.mention_pipeline.extract_triples``
over ``core.html_text.extract_text``; tests/test_fused.py).

This is the path ``run_pipeline`` (pipeline/runner.py), bench and
high-volume ingestion use.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.html_text import extract_text
from ..core.mention_pipeline import mention_detector, triples_from_spans
from ..operators.decision_log import LOG_FIELDS, LOG_FIELDS_DDL, log_values

TRIPLES_SCHEMA = "subj string, pred string, obj string, url string"
TRIPLES_AND_LOG_SCHEMA = (
    "rec_type string, url string, subj string, pred string, obj string, "
    + LOG_FIELDS_DDL
)
_TRIPLES_AND_LOG_COLUMNS = ["rec_type", "url", "subj", "pred", "obj", *LOG_FIELDS]


def _map_pages(
    pages: DataFrame,
    emit: Callable[[Callable, list, list], pd.DataFrame],
    schema: str,
    brand_lexicon,
    balance: bool,
    num_partitions: int | None,
    emission_npz: str | None,
    long_doc: str,
    chunk_stride: int | None,
) -> DataFrame:
    """The one Arrow stage behind both fused entry points: project pages to
    (url, html, text), optionally round-robin them, and per Arrow batch hand
    ``emit(detect, urls, docs)`` the non-blank documents — the stored text,
    or the text extracted from html when it is null or empty."""
    load = mention_detector(
        brand_lexicon, emission_npz=emission_npz, long_doc=long_doc,
        chunk_stride=chunk_stride,
    )
    cols = pages.select(
        "url",
        "html" if "html" in pages.columns else F.lit(None).cast("binary").alias("html"),
        F.col("text") if "text" in pages.columns else F.lit("").alias("text"),
    )
    if balance:
        n = num_partitions or int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        cols = cols.repartition(n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        detect = load()
        for pdf in batches:
            urls, docs = [], []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                # same fallback predicate as extract.run: only null/empty
                # text triggers extraction (whitespace-only text stays as-is)
                t = text if isinstance(text, str) and len(text) > 0 else extract_text(html)
                if not t or not t.strip():
                    continue
                urls.append(url)
                docs.append(t)
            yield emit(detect, urls, docs)

    return cols.mapInPandas(gen, schema=schema)


def _triples_frame(detect, urls: list, docs: list) -> pd.DataFrame:
    out: dict[str, list] = {"subj": [], "pred": [], "obj": [], "url": []}
    for url, t, spans in zip(urls, docs, detect(docs)):
        for subj, pred, obj in triples_from_spans(url, t, spans):
            out["subj"].append(subj)
            out["pred"].append(pred)
            out["obj"].append(obj)
            out["url"].append(url)
    return pd.DataFrame(out, columns=["subj", "pred", "obj", "url"])


def _triples_and_log_frame(detect, urls: list, docs: list) -> pd.DataFrame:
    logs: list[list[dict]] = []
    spans_per_doc = detect(docs, logs)
    rows: list[tuple] = []
    none15 = (None,) * len(LOG_FIELDS)
    for url, t, spans, recs in zip(urls, docs, spans_per_doc, logs):
        for subj, pred, obj in triples_from_spans(url, t, spans):
            rows.append(("triple", url, subj, pred, obj) + none15)
        for r in recs:
            rows.append(("log", url, None, None, None, *log_values(r)))
    return pd.DataFrame(rows, columns=_TRIPLES_AND_LOG_COLUMNS)


def fused_triples(
    pages: DataFrame,
    brand_lexicon=frozenset(),
    balance: bool = False,
    num_partitions: int | None = None,
    emission_npz: str | None = None,
    long_doc: str = "truncate",
    chunk_stride: int | None = None,
) -> DataFrame:
    """pages(url, html, text, ...) → (subj, pred, obj, url).

    ``balance``: round-robin repartition before the Arrow stage. OFF by
    default — storage reads (parquet/Iceberg) split by bytes, and per-doc
    compute here is ~linear in bytes, so scan partitions are already
    compute-balanced; the shuffle only costs (measured: 480k pages local[32]
    11.9k docs/s unshuffled vs 10.3k round-robin vs 6.4k with the previous
    length-range form, which CONCENTRATED long docs into the same partitions
    and made stragglers). Turn on for inputs whose upstream partitioning is
    compute-skewed (e.g. range-partitioned by a length-correlated key).

    ``emission_npz``: optional weights-on-disk emission checkpoint
    (core/emission.py), loaded once per worker process — the production
    swap point for a real model inside this same fused stage.

    ``long_doc='windowed'``: chunked inference over stride-overlapped
    max_len-piece windows for sequence-level checkpoints (core/chunked.py)
    — full web pages get analyzed past the reference's 160-piece truncation
    (ref infer.py:165-171; VERDICT r7 #1). Default 'truncate' = pinned
    reference behavior."""
    return _map_pages(
        pages, _triples_frame, TRIPLES_SCHEMA, brand_lexicon, balance,
        num_partitions, emission_npz, long_doc, chunk_stride,
    )


def fused_triples_and_log(
    pages: DataFrame,
    brand_lexicon=frozenset(),
    balance: bool = False,
    num_partitions: int | None = None,
    emission_npz: str | None = None,
    long_doc: str = "truncate",
    chunk_stride: int | None = None,
) -> DataFrame:
    """pages → UNION of triple rows (rec_type='triple') and per-word
    decision-log rows (rec_type='log'), from ONE inference pass: the batch
    kernel emits spans and S8 log records from the same cascade run
    (final_mention_spans_batch(logs=...)), so enabling the corpus-scale
    debugging surface costs zero extra model/cascade work — previously the
    log was a separate mapInPandas that re-ran inference (VERDICT r2 #9).

    ``.persist()`` the result before splitting if both halves feed separate
    actions (otherwise each action re-executes the stage — standard Spark).
    Split with :func:`split_triples_and_log`. Row content is equality-tested
    against fused_triples and operators.decision_log."""
    return _map_pages(
        pages, _triples_and_log_frame, TRIPLES_AND_LOG_SCHEMA, brand_lexicon,
        balance, num_partitions, emission_npz, long_doc, chunk_stride,
    )


def split_triples_and_log(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples, log) views of a fused_triples_and_log result. Persist the
    combined frame first when collecting both."""
    triples = combined.filter(F.col("rec_type") == "triple").select(
        "subj", "pred", "obj", "url"
    )
    log = combined.filter(F.col("rec_type") == "log").select("url", *LOG_FIELDS)
    return triples, log
