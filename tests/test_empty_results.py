"""Empty results are planned on the JVM.

An empty frame built from a Python list (or an empty pandas frame, which
Arrow falls back on) plans as ``Scan ExistingRDD``: a Python RDD that starts
Python workers on every action. The early-return branches of the local
finishers must return a JVM-planned empty frame with the usual schema.
"""

from __future__ import annotations

from x5_ner_spark.operators.dedup import jaccard_pairs
from x5_ner_spark.pipeline.canonicalize import connected_components


def _assert_jvm_empty(df, schema: str):
    spark = df.sparkSession
    assert df.collect() == []
    assert df.schema == spark.createDataFrame([], schema).schema
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_connected_components_empty_edges(spark):
    edges = spark.range(0).selectExpr("id AS src", "id AS dst")
    _assert_jvm_empty(connected_components(edges), "node long, component long")


def test_jaccard_pairs_single_doc(spark):
    docs = spark.range(1).selectExpr("id AS doc_id", "'a b c d e f' AS text")
    _assert_jvm_empty(
        jaccard_pairs(docs), "id_a long, id_b long, jaccard double"
    )
