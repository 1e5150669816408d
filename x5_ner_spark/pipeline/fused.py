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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.html_text import extract_text
from ..core.mention_pipeline import mention_detector, triples_from_spans

TRIPLES_SCHEMA = "subj string, pred string, obj string, url string"


def fused_triples(
    pages: DataFrame,
    brand_lexicon=frozenset(),
    emission_npz: str | None = None,
    long_doc: str = "truncate",
) -> DataFrame:
    """pages(url, html, text, ...) → (subj, pred, obj, url).

    Each page's text is its stored ``text``, or the text extracted from
    ``html`` when that is null or empty; blank documents emit nothing.

    ``emission_npz``: optional weights-on-disk emission checkpoint
    (core/emission.py), loaded once per worker process — the production
    swap point for a real model inside this same fused stage.

    ``long_doc='windowed'``: chunked inference over stride-overlapped
    max_len-piece windows for sequence-level checkpoints (core/chunked.py)
    — full web pages get analyzed past the reference's 160-piece truncation
    (ref infer.py:165-171; VERDICT r7 #1). Default 'truncate' = pinned
    reference behavior."""
    load = mention_detector(brand_lexicon, emission_npz=emission_npz, long_doc=long_doc)
    cols = pages.select(
        "url",
        "html" if "html" in pages.columns else F.lit(None).cast("binary").alias("html"),
        F.col("text") if "text" in pages.columns else F.lit("").alias("text"),
    )

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
            out: dict[str, list] = {"subj": [], "pred": [], "obj": [], "url": []}
            for url, t, spans in zip(urls, docs, detect(docs)):
                for subj, pred, obj in triples_from_spans(url, t, spans):
                    out["subj"].append(subj)
                    out["pred"].append(pred)
                    out["obj"].append(obj)
                    out["url"].append(url)
            yield pd.DataFrame(out, columns=["subj", "pred", "obj", "url"])

    return cols.mapInPandas(gen, schema=TRIPLES_SCHEMA)
