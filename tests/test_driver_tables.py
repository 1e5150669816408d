"""Driver-built tables are planned on the JVM, and a fresh output root is
never handed to the parquet reader.

A table built from a Python list plans as ``Scan ExistingRDD``: a Python
RDD that starts Python workers on every action. A pandas-built one (Arrow
on) plans as a ``LocalTableScan``. And a parquet read of a missing
``_manifests`` dir fails only after Spark has logged a stack trace, so the
manifest readers check the path first.
"""

from __future__ import annotations

from x5_ner_spark.operators import text_stats as ts
from x5_ner_spark.operators.split import stratified_split
from x5_ner_spark.pipeline import graph


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_stratified_split_quota_table_is_local(spark):
    df = spark.range(40).selectExpr(
        "id AS sample",
        "array(named_struct('start', 0, 'end', 1, "
        "'tag', IF(id % 3 = 0, 'B-BRAND', 'O'))) AS spans",
    )
    out = stratified_split(df, val_size=0.25)
    assert {r["combo"] for r in out.select("combo").distinct().collect()} == {"BRAND", "NONE"}
    plan = _executed_plan(out)
    assert "ExistingRDD" not in plan, plan


def test_stratified_split_of_nothing_is_jvm_planned(spark):
    out = stratified_split(spark.range(0).selectExpr(
        "id AS sample", "array(named_struct('start', 0, 'end', 1, 'tag', 'O')) AS spans"))
    assert out.collect() == []
    assert "ExistingRDD" not in _executed_plan(out)


def test_numeric_profile_histogram_result_is_local(spark, monkeypatch):
    df = spark.range(300).selectExpr("id % 3 AS g", "id * 0.5 AS v")
    monkeypatch.setattr(ts, "PROFILE_HIST_MIN_ROWS", 0)
    out = ts.numeric_profile(df, "g", "v")
    monkeypatch.setattr(ts, "PROFILE_HIST_MIN_ROWS", 1 << 62)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ts.numeric_profile(df, "g", "v").collect()))
    plan = _executed_plan(out)
    assert "ExistingRDD" not in plan, plan


def test_numeric_profile_of_nothing_falls_back(spark, monkeypatch):
    """An empty input leaves the histogram path no group to select from: it
    yields to the percentile() aggregate instead of failing."""
    monkeypatch.setattr(ts, "PROFILE_HIST_MIN_ROWS", 0)
    df = spark.range(0).selectExpr("id % 3 AS g", "id * 0.5 AS v")
    assert ts.numeric_profile(df, "g", "v").collect() == []


def test_fresh_root_never_reads_manifests(spark, tmp_path, monkeypatch):
    reader = type(spark.read)
    read_parquet = reader.parquet
    paths: list = []

    def spy(self, *p, **kw):
        paths.extend(p)
        return read_parquet(self, *p, **kw)

    monkeypatch.setattr(reader, "parquet", spy)
    root = str(tmp_path / "fresh")
    assert graph.pending_parts(spark, root, "nodes", 4) == [0, 1, 2, 3]
    assert graph.complete_stages(spark, root, "cc_round_", 8) == []
    assert not [p for p in paths if str(p).rstrip("/").endswith("_manifests")], paths
