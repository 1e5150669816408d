"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/ -q

Spark-backed tests start one local[2] session; the harness tests run
``run.py`` end to end at a tiny input scale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen
import run
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = 40  # rows: every page and document falls inside the checks' samples


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- generator

def test_generator_is_deterministic():
    assert gen.kg_pages(5, 60, 4, 15) == gen.kg_pages(5, 60, 4, 15)
    assert gen.curate_docs(5, 60) == gen.curate_docs(5, 60)
    assert gen.alias_rows(5) == gen.alias_rows(5)


def test_different_seeds_give_disjoint_keys():
    a, _ = gen.kg_pages(1, 200, 4, 15)
    b, _ = gen.kg_pages(2, 200, 4, 15)
    assert not {p["url"] for p in a} & {p["url"] for p in b}
    da, _ = gen.curate_docs(1, 200)
    db, _ = gen.curate_docs(2, 200)
    assert not {d[0] for d in da} & {d[0] for d in db}


def test_planted_structure_is_present():
    pages, copies = gen.kg_pages(3, 400, 4, 15)
    assert 20 < len(copies) < 120
    docs, planted = gen.curate_docs(3, 400)
    text = {d[0]: d[1] for d in docs}
    close = [p for p in planted if workloads.shingle_jaccard(text[p[0]], text[p[1]]) >= 0.5]
    assert close and len(close) < len(planted)  # pairs on both sides of the threshold
    assert any(gen.BOILERPLATE in t for t in text.values())
    kept = [workloads.gopher_keep(t) for t in text.values()]
    assert 0 < sum(kept) < len(kept)


def test_gopher_restatement_rounds_half_up():
    assert workloads._round4(0.00005) == 0.0001
    assert workloads._round4(2 / 3) == 0.6667


# --------------------------------------------------- names and contract

def test_printed_names_match_benchmark_json():
    bench = _benchmark_json()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == tracing.metric_names()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert bench["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("workload,trace", [("kg_build", 0), ("curate", 1)])
def test_harness_run_prints_a_passing_result(workload, trace):
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0.25", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    res = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] == 1 and res["failed"] == 0
    bench = _benchmark_json()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}
    if trace:
        # the input scan runs outside every layer: it is charged to the
        # unattributed bucket, never to the layer that consumes it
        assert res["metrics"]["unattributed.wall_s"]["value"] > 0
        assert 0 < res["metrics"]["trace_coverage"]["value"] < 1


# ------------------------------------------- checks on real (tiny) output

@pytest.fixture(scope="module")
def spark():
    from x5_ner_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests")
    yield s
    s.stop()


def _rewrite_stage(spark, out: str, stage: str, edit) -> None:
    """Replace a committed stage's rows with ``edit(rows)``; the row count
    is kept, so the manifest still agrees with the table."""
    from x5_ner_spark.pipeline import graph

    df = graph.read_stage(spark, out, stage)
    schema = df.schema
    rows = [r.asDict() for r in df.collect()]
    new = edit(rows)
    assert len(new) == len(rows)
    spark.createDataFrame(new, schema).write.mode("overwrite") \
        .partitionBy("part_id").parquet(os.path.join(out, stage))


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_check_passes_then_catches_corruption(spark, tmp_path, name):
    wl = workloads.WORKLOADS[name]
    inputs = wl.prepare(str(tmp_path), 11, TINY, 2)
    out = str(tmp_path / "out")
    wl.job(spark, inputs, out)
    assert wl.check(spark, inputs, out) == []

    if name == "kg_build":
        def edit(rows):
            rows[0] = {**rows[0], "obj": rows[0]["obj"] + "x"}
            return rows
        _rewrite_stage(spark, out, "triples", edit)
    else:
        docs, _ = gen.curate_docs(11, TINY)

        def edit(rows):
            kept = {r["doc_id"] for r in rows}
            bad = next(d for d in docs if d[0] not in kept and not workloads.gopher_keep(d[1]))
            rows[0] = {**rows[0], "doc_id": bad[0], "text": bad[1]}
            return rows
        _rewrite_stage(spark, out, "kept", edit)
    assert wl.check(spark, inputs, out) != []
