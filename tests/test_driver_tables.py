"""Driver-built tables are planned on the JVM, the manifest reader never
hands the parquet reader a ``_manifests`` dir, and the session's ICU
warm-up fails loudly.

A table built from a Python list plans as ``Scan ExistingRDD``: a Python
RDD that starts Python workers on every action. A pandas-built one (Arrow
on) plans as a ``LocalTableScan``. A parquet read of a missing
``_manifests`` dir fails only after Spark has logged a stack trace, and a
read of an existing one logs "All paths were ignored" (the dir's own name
starts with ``_``), so the manifest reader globs the files and passes them
by name.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from x5_ner_spark import session
from x5_ner_spark.operators import text_stats as ts
from x5_ner_spark.pipeline import graph


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


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


def _parquet_reads(spark, monkeypatch) -> list:
    """Every path handed to ``DataFrameReader.parquet`` from here on."""
    reader = type(spark.read)
    read_parquet = reader.parquet
    paths: list = []

    def spy(self, *p, **kw):
        paths.extend(p)
        return read_parquet(self, *p, **kw)

    monkeypatch.setattr(reader, "parquet", spy)
    return paths


def test_fresh_root_never_reads_manifests(spark, tmp_path, monkeypatch):
    paths = _parquet_reads(spark, monkeypatch)
    root = str(tmp_path / "fresh")
    assert graph.pending_parts(spark, root, "nodes", 4) == [0, 1, 2, 3]
    assert graph.complete_stages(spark, root, "cc_round_", 8) == []
    assert not [p for p in paths if str(p).rstrip("/").endswith("_manifests")], paths


def test_manifest_reader_passes_files_not_the_hidden_dir(spark, tmp_path, monkeypatch):
    paths = _parquet_reads(spark, monkeypatch)
    df = spark.range(40).select(F.col("id"), F.col("id").cast("string").alias("k"))
    root = str(tmp_path / "g")
    graph.write_stage(df, root, "s", key="k", n_buckets=2)
    graph.write_stage(df, root, "t", key="k", n_buckets=2)
    got = {(r["stage"], r["part_id"], r["n_rows"])
           for st in ("s", "t") for r in graph.read_manifest(spark, root, st).collect()}
    want = {(st, r["part_id"], r["n"])
            for st in ("s", "t") for r in graph.read_stage(spark, root, st)
            .groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and len(got) == 4
    assert graph.complete_stages(spark, root, "", 2) == ["s", "t"]
    hidden = [p for p in paths if str(p).rstrip("/").rsplit("/", 1)[-1].startswith("_")]
    assert any("_manifests/" in str(p) for p in paths) and hidden == [], paths


def test_failed_icu_warmup_is_loud():
    class NoJobs:
        def createDataFrame(self, *a, **kw):
            raise RuntimeError("no executors")

    stub = NoJobs()
    with pytest.raises(RuntimeError, match="no executors"):
        session._warm_icu_case_tables(stub)
    assert not hasattr(stub, "_x5_icu_warmed")
