"""The driver-side event log (``x5_ner_spark.obs``).

Each two-path operator records exactly one path event per call, on either
side of its switch (forced with the module constants the other tests use),
and recording adds no Spark job.
"""

from __future__ import annotations

import threading

import pandas as pd
import pytest

from x5_ner_spark import obs
from x5_ner_spark.functions import scan
from x5_ner_spark.operators import dedup
from x5_ner_spark.operators import text_stats as ts
from x5_ner_spark.pipeline import canonicalize


def _fields(log, name):
    return [f for n, f in log if n == name]


def test_event_without_recorder_is_a_no_op():
    obs.event("x", a=1)  # nothing to append to, nothing raised
    with obs.recording() as log:
        pass
    assert log == []


def test_recorders_nest_and_stay_per_thread():
    with obs.recording() as outer:
        obs.event("a", n=1)
        with obs.recording() as inner:
            obs.event("b", n=2)
        t = threading.Thread(target=obs.event, args=("c",), kwargs={"n": 3})
        t.start()
        t.join()
    assert inner == [("b", {"n": 2})]
    assert outer == [("a", {"n": 1}), ("b", {"n": 2})]


def test_recording_is_released_on_error():
    with pytest.raises(RuntimeError):
        with obs.recording() as log:
            raise RuntimeError
    obs.event("after")
    assert log == []


def _docs(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),      # exact dup of 1
        (3, "a b c d e f g zz"),     # near-dup of 1/2
        (4, "p q r s t u v w"),
        (5, "p q r s t u v xx"),     # near-dup of 4
        (6, "one two"),              # < k tokens
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["n_chars"] = pdf["text"].str.len()
    return spark.createDataFrame(pdf, "doc_id long, text string, n_chars long")


@pytest.mark.parametrize("bound, path", [(10_000, "kernel"), (0, "join")])
def test_jaccard_pairs_records_its_path(spark, monkeypatch, bound, path):
    docs = _docs(spark)
    monkeypatch.setattr(dedup, "LOCAL_JACCARD_DOCS", bound)
    with obs.recording() as log:
        dedup.jaccard_pairs(docs)
    assert _fields(log, "jaccard_path") == [{"path": path, "docs": 6}]


@pytest.mark.parametrize(
    "min_rows, path", [(0, "histogram"), (ts.PROFILE_HIST_MIN_ROWS, "percentile")],
)
def test_numeric_profile_records_its_path(spark, monkeypatch, min_rows, path):
    df = spark.range(300).selectExpr("id % 3 AS g", "id * 0.5 AS v")
    monkeypatch.setattr(ts, "PROFILE_HIST_MIN_ROWS", min_rows)
    with obs.recording() as log:
        ts.numeric_profile(df, "g", "v")
    assert _fields(log, "profile_path") == [{"path": path}]


@pytest.mark.parametrize("bar", [0, canonicalize.LOCAL_FINISH_EDGES])
def test_connected_components_records_one_cc_event(spark, monkeypatch, bar):
    edges = spark.range(20).selectExpr("id AS src", "id + 1 AS dst")
    monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", bar)
    with obs.recording() as log:
        canonicalize.connected_components(edges)
    [cc] = _fields(log, "cc")
    assert cc["resumed_from_round"] is None
    if bar:
        assert cc == {"rounds": 0, "local_finish_edges": 20, "resumed_from_round": None}
    else:
        assert cc["local_finish_edges"] is None and cc["rounds"] >= 1


@pytest.mark.parametrize("target, fires", [(1, True), (1 << 40, False)])
def test_scan_parallel_records_the_valve(spark, monkeypatch, target, fires):
    df = spark.range(1000)
    monkeypatch.setattr(scan, "SCAN_TARGET_BYTES", target)
    with obs.recording() as log:
        out = scan.scan_parallel(df)
    want = 2 * spark.sparkContext.defaultParallelism if fires else None
    assert _fields(log, "scan_valve") == [{"partitions": want}]
    assert (out is df) == (not fires)


def test_recording_adds_no_spark_job(spark):
    """near_dup_clusters over jaccard_pairs (scan valve, Jaccard gate, CC)
    runs the same number of jobs with a recorder active and without."""
    sc = spark.sparkContext
    docs = _docs(spark)

    def jobs(group: str, record: bool) -> int:
        sc.setJobGroup(group, group)
        try:
            if record:
                with obs.recording() as log:
                    dedup.near_dup_clusters(docs, dedup.jaccard_pairs(docs)).collect()
                assert {n for n, _ in log} >= {"scan_valve", "jaccard_path", "cc"}
            else:
                dedup.near_dup_clusters(docs, dedup.jaccard_pairs(docs)).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    off = jobs("obs-test-off", False)
    on = jobs("obs-test-on", True)
    assert on == off > 0
