"""User-facing facade — the engine's equivalent of the reference's
``NERPipeline`` (ner/infer.py:140) + service endpoint (service/app.py:37-45),
re-expressed for DataFrames.

    from x5_ner_spark.api import NerEngine
    eng = NerEngine(spark, brand_lexicon=["простоквашино", ...])

    eng.predict_entities("молоко простоквашино 3,2%")   # one text (driver)
    eng.detect(df)            # DataFrame text → + spans
    eng.annotate(df)          # + byte-exact serialized annotation
    eng.triples(df)           # (subj, pred, obj, url)
    eng.build_graph(pages, out_root)                    # full KG DAG
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.mention_pipeline import final_mention_spans
from .core.spans import Span, serialize_spans
from .operators.span_udfs import serialize_spans_udf
from .pipeline import extract, runner, triples as triples_stage
from .pipeline.mentions import run as mentions_run


class NerEngine:
    """Stateless plan builder; the lexicon is the only configuration.

    The single-text path (``predict_entities``) runs the same pure functions
    the executors run — it IS the oracle, so driver spot-checks always agree
    with cluster output (the reference's service/batch divergence cannot
    happen here by construction).
    """

    def __init__(self, spark: SparkSession, brand_lexicon: list[str] | None = None):
        self.spark = spark
        self.brand_lexicon = list(brand_lexicon or [])
        self._lexset = frozenset(self.brand_lexicon)
        self._lexlist = sorted(self._lexset)

    # -- single text (service/app.py analog) --------------------------------
    def predict_entities(self, text: str) -> list[Span]:
        if not text or not text.strip():
            return []
        return final_mention_spans(text, self._lexset, self._lexlist)

    def annotate_text(self, text: str) -> str:
        return serialize_spans(self.predict_entities(text))

    # -- DataFrame stages ----------------------------------------------------
    def extract_text(self, pages: DataFrame) -> DataFrame:
        return extract.run(pages)

    def detect(self, docs: DataFrame, text_col: str = "text", balance: bool = True) -> DataFrame:
        d = docs if text_col == "text" else docs.withColumnRenamed(text_col, "text")
        return mentions_run(d, self.brand_lexicon, self.spark, balance=balance)

    def annotate(self, docs: DataFrame) -> DataFrame:
        return self.detect(docs).withColumn(
            "annotation", serialize_spans_udf(F.col("spans"))
        )

    def triples(self, docs: DataFrame, subj_col: str = "url") -> DataFrame:
        return triples_stage.run(self.detect(docs), subj_col=subj_col)

    def triples_fast(self, pages: DataFrame, balance: bool = False) -> DataFrame:
        """Single-Arrow-stage pages→triples (pipeline.fused) — row-identical
        to extract→detect→triples, one JVM↔Python hop instead of three.
        ``balance`` (round-robin reshuffle) only helps compute-skewed
        upstream partitionings; see fused_triples."""
        from .pipeline.fused import fused_triples

        return fused_triples(pages, self._lexset, balance=balance)

    def build_graph(self, pages: DataFrame, out_root: str | None = None, **kw):
        return runner.run_pipeline(
            self.spark, pages, out_root=out_root,
            brand_lexicon=self.brand_lexicon or None, **kw,
        )
