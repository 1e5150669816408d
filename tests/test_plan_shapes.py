"""Plan-shape regression guards (VERDICT r5 #2).

BENCH/plans_r9.txt records the audited physical plans, but a file is not a
gate: these tests pin each headline query's shuffle-Exchange and broadcast
operator counts so a change that adds a shuffle or demotes a broadcast join
fails `pytest tests/` instead of waiting for a round-over-round plan diff.

Direction of the assertions encodes what a regression IS:
- shuffle Exchanges may only DECREASE (more shuffles = the 100 TB failure
  mode; fewer = an improvement someone should re-pin deliberately),
- BroadcastHashJoin / BroadcastExchange may only INCREASE (losing one means
  a small side started shuffling — e.g. a dropped broadcast() hint).

Pins generated by `python tools/plan_audit.py` (op-level counts from the
formatted plan's numbered operator section — raw substring counts would
double-count the tree header and fold BroadcastExchange into Exchange).

Plans are pinned with spark.sql.autoBroadcastJoinThreshold=-1: a
BroadcastHashJoin here proves an EXPLICIT broadcast() hint — the only thing
that still holds at 100 TB where "the statistics said 9 MB" does not. The
three queries pinned with BHJ ≥ 1 (kg_mentions_by_pred, tfidf_top_terms,
ivf_topk) broadcast sides bounded by construction (alias dictionary, doc
count, centroid table); joins whose small side GROWS with the corpus
(orders⋈customer, LSH candidate pairs, CC frontiers) are deliberately left
to size statistics and pin BHJ=0 under this conf.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.plan_audit import AUDIT, op_counts  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# python tools/plan_audit.py regenerates this block verbatim
PINNED = {
    # r9 re-pin: +1 Exchange on the map-heavy corpus queries is the
    # scan-parallelism valve (functions/scan.scan_parallel) — a single
    # exchange of raw rows added ONLY when the input scan has fewer
    # partitions than the session has cores (the sf parquet files are one
    # row group, so their scans can never parallelize; at 100 TB the valve
    # is a no-op). jaccard_pairs dropped to 0 (broadcast-postings kernel);
    # near_dup_clusters_lsh/components dropped with it.
    "kg_mentions_by_pred": {"Exchange": 3, "BroadcastExchange": 1, "BroadcastHashJoin": 1},
    "filter_project": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "join_agg": {"Exchange": 3, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "tpch_q1": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "jaccard_pairs": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "minhash_buckets": {"Exchange": 3, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "near_dup_clusters_lsh": {"Exchange": 6, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "gopher_filters": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "canonical_urls": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "tfidf_top_terms": {"Exchange": 6, "BroadcastExchange": 1, "BroadcastHashJoin": 1},
    "mix_sample": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "scrub_pii": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "decision_log": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "crf_decode": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "asof_join": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "sessionize": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "ivf_topk": {"Exchange": 2, "BroadcastExchange": 1, "BroadcastHashJoin": 1},
    "doc_stats": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "corpus_report": {"Exchange": 34, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "inverted_index": {"Exchange": 2, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "pack_documents": {"Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "components": {"Exchange": 4, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "pagerank": {"Exchange": 0, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "simhash": {"Exchange": 2, "BroadcastExchange": 0, "BroadcastHashJoin": 0},
    "decontaminate": {"Exchange": 4, "BroadcastExchange": 1, "BroadcastHashJoin": 1},
}



def test_pins_cover_the_audit_list():
    assert set(PINNED) == set(AUDIT)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.fixture(autouse=True)
def _no_auto_broadcast(spark):
    """Pin conf: see module docstring — BHJ must come from explicit hints."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", sorted(PINNED))
def test_plan_shape_pinned(spark, queries, name):
    pin = PINNED[name]
    got = op_counts(queries[name](spark, SF_DIR))
    problems = []
    if got.get("Exchange", 0) > pin["Exchange"]:
        problems.append(
            f"shuffle Exchanges grew {pin['Exchange']} -> {got.get('Exchange', 0)}"
        )
    for op in ("BroadcastHashJoin", "BroadcastExchange"):
        if got.get(op, 0) < pin[op]:
            problems.append(f"{op} dropped {pin[op]} -> {got.get(op, 0)}")
    # driver-side loops are never acceptable in a declarative headline plan
    if got.get("CartesianProduct", 0):
        problems.append("CartesianProduct appeared")
    assert not problems, (
        f"{name}: {'; '.join(problems)} — if intentional, re-pin via "
        f"`python tools/plan_audit.py` (plan now: {got})"
    )


def _python_rdd_scans(plan) -> list[str]:
    """The ``Scan ExistingRDD`` nodes of a physical plan whose RDD lineage
    holds a ``PythonRDD`` (a frame built from a Python list): such a scan
    starts Python workers on every action, though the table holds no
    Python logic."""
    hits, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "RDDScanExec" \
                and "PythonRDD[" in node.rdd().toDebugString():
            hits.append(node.simpleString(100))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return hits


def test_no_query_scans_a_python_rdd(spark, queries, sf_dir):
    """Every driver-contract query builds its small tables from pandas (a
    LocalTableScan). Scans of block RDDs (the lazy ``localCheckpoint`` in
    tfidf_top_terms and pagerank) are fine."""
    hits = {
        name: scans
        for name, q in sorted(queries.items())
        if (scans := _python_rdd_scans(q(spark, sf_dir)._jdf.queryExecution().sparkPlan()))
    }
    assert hits == {}, hits
