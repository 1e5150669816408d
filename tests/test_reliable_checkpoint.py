"""Reliable-checkpoint resume for the iterative operators (VERDICT r2 #3):
CC and PageRank can persist their frontier through the manifest machinery
every k rounds and a rerun completes from the last COMPLETE round, with
results identical to an uninterrupted run. localCheckpoint alone stores
blocks on executors — lost with an executor at cluster scale; this is the
recompute path the north rule's checkpoint-resume criterion requires for
iterative stages too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from x5_ner_spark import obs


def _info(log, name):
    """The fields of the ``name`` events that carry a value."""
    return {k: v for n, f in log if n == name for k, v in f.items() if v is not None}


def _cc(edges, **kw):
    """connected_components pinned to the ITERATIVE path: these tests are
    about round checkpoints/resume, which the hybrid local finisher (see
    canonicalize.LOCAL_FINISH_EDGES) would answer before any round runs."""
    from x5_ner_spark.pipeline import canonicalize

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(canonicalize, "LOCAL_FINISH_EDGES", 0)
        return canonicalize.connected_components(edges, **kw)


def _chain_edges(spark, n=30):
    # a path graph needs O(log n) star rounds — guaranteed not to converge
    # within the interrupted run's max_iter
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )


def test_cc_crash_resume_identical(spark, tmp_path):
    from x5_ner_spark.pipeline.graph import complete_stages

    edges = _chain_edges(spark, 30)
    expected = sorted(tuple(r) for r in _cc(edges).collect())

    d = str(tmp_path / "cc_ckpt")
    # "crash" after 2 rounds: the loop stops with checkpoints committed
    partial = _cc(
        edges, max_iter=2, checkpoint_dir=d, checkpoint_every=1
    )
    partial.count()
    assert complete_stages(spark, d, "cc_round_", 8), "no round committed"

    # resume with EMPTY input: if the state really comes from the manifest
    # checkpoint the input is never scanned and the answer is unchanged;
    # a fallback recompute would return nothing
    empty = spark.createDataFrame([], "src long, dst long")
    with obs.recording() as log:
        resumed = _cc(empty, checkpoint_dir=d, checkpoint_every=100)
    info = _info(log, "cc")
    assert info.get("resumed_from_round") == 2
    assert sorted(tuple(r) for r in resumed.collect()) == expected


def test_pagerank_crash_resume_identical(spark, tmp_path):
    from x5_ner_spark.operators.graph_ops import pagerank
    from x5_ner_spark.pipeline.graph import complete_stages

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(19)] + [(0, 10), (3, 17)],
        "src long, dst long",
    ).filter(F.col("src") != F.col("dst"))
    full = {r["node"]: r["pagerank"] for r in pagerank(edges, iters=5).collect()}

    d = str(tmp_path / "pr_ckpt")
    # interrupted run: 3 rounds, round-2 state committed to the manifest
    pagerank(edges, iters=3, checkpoint_dir=d, checkpoint_every=2).count()
    assert complete_stages(spark, d, "pr_round_", 8) == ["pr_round_0002"]

    with obs.recording() as log:
        resumed = {
            r["node"]: r["pagerank"]
            for r in pagerank(
                edges, iters=5, checkpoint_dir=d, checkpoint_every=100,
            ).collect()
        }
    info = _info(log, "pagerank")
    assert info.get("resumed_from_round") == 2
    assert resumed == full


def test_pagerank_resume_ignores_rounds_beyond_iters(spark, tmp_path):
    """A checkpoint from a LONGER previous run must not leak into a shorter
    one: rounds > iters are ignored (fresh start)."""
    from x5_ner_spark.operators.graph_ops import pagerank

    edges = _chain_edges(spark, 12)
    d = str(tmp_path / "pr_long")
    pagerank(edges, iters=5, checkpoint_dir=d, checkpoint_every=4).count()  # writes round 4
    with obs.recording() as log:
        short = {
            r["node"]: r["pagerank"]
            for r in pagerank(edges, iters=2, checkpoint_dir=d).collect()
        }
    info = _info(log, "pagerank")
    fresh = {r["node"]: r["pagerank"] for r in pagerank(edges, iters=2).collect()}
    assert "resumed_from_round" not in info
    assert short == fresh


def test_cc_checkpoint_completes_with_empty_buckets(spark, tmp_path):
    """A converged/skewed frontier hashes into FEW buckets — empty buckets
    must still get manifest rows so the round registers complete and resume
    actually fires (review finding r3)."""
    from x5_ner_spark.pipeline.graph import complete_stages

    # star graph: frontier collapses to (v -> 0) rows, src values are few
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 20)], "src long, dst long"
    )
    d = str(tmp_path / "cc_star")
    _cc(edges, max_iter=2, checkpoint_dir=d, checkpoint_every=1).count()
    assert complete_stages(spark, d, "cc_round_", 8), "empty buckets blocked the manifest"
    empty = spark.createDataFrame([], "src long, dst long")
    with obs.recording() as log:
        resumed = _cc(empty, checkpoint_dir=d)
    info = _info(log, "cc")
    assert "resumed_from_round" in info
    assert {r["node"] for r in resumed.collect()} == set(range(20))


def test_cc_resume_ignores_rounds_beyond_max_iter(spark, tmp_path):
    """A checkpoint from a deeper earlier run must not leak into a shallower
    rerun (same guard as pagerank)."""

    edges = _chain_edges(spark, 24)
    d = str(tmp_path / "cc_deep")
    _cc(edges, max_iter=6, checkpoint_dir=d, checkpoint_every=2).count()
    with obs.recording() as log:
        shallow = _cc(edges, max_iter=1, checkpoint_dir=d)
    info = _info(log, "cc")
    fresh = _cc(edges, max_iter=1)
    assert "resumed_from_round" not in info
    assert sorted(map(tuple, shallow.collect())) == sorted(map(tuple, fresh.collect()))
