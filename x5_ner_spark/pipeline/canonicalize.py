"""Stage 6 — canonicalization: connected components over entity-similarity
edges (north rule: iterative large-star/small-star with skew handling).

Algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC'14): alternate

  large-star: for every node u, connect every neighbor v > u to
              m = min(Γ(u) ∪ {u})
  small-star: orient edges high→low; connect every neighbor (all ≤ u)
              and u itself to the minimum of that closed neighborhood

until the edge multiset stops changing. Converges in O(log n) rounds; each
round is one groupBy-aggregate + one explode (two shuffles) — no driver-side
graph state, so it scales to hub-entity components. AQE's skew-join/skew-agg
splitting handles the hub keys; ``localCheckpoint`` truncates lineage so the
plan doesn't grow across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import obs
from ..functions.columns import empty_frame

LOCAL_FINISH_EDGES = 2_000_000
"""Frontier size (edges) at or below which :func:`connected_components`
finishes with a driver-side union-find instead of more star rounds. Each
star round is a full Spark job whose cost has a fixed scheduler floor — at
sandbox corpus sizes that floor, not data, dominates CC wall time (the
r6-r8 dedup scaling legs bottomed at ~0.5 efficiency because every round
costs the same at 2 and at 8 cores). The near-dup edge list is tiny
relative to the corpus (rescored TRUE pairs only), so at 100 TB the same
hybrid applies: iterate while the frontier is big — each round contracts
it toward one edge per non-root node — and collect the moment it fits.
The collect is bounded by construction: 2 longs/row → ≤ ~32 MB."""


def _ckpt_rdd(df: DataFrame):
    """JVM handle of a localCheckpoint-ed DataFrame's block-backed RDD
    (the analyzed plan is LogicalRDD; its .rdd is the exact RDD holding the
    checkpoint blocks). Lets iterative loops release superseded frontiers —
    without this every round's blocks stay pinned in the block manager for
    the app's lifetime (VERDICT r3 #4)."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def _canon_undirected(edges: DataFrame) -> DataFrame:
    """Normalize to src < dst, drop self-loops and duplicates."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    # both orientations; per node u: m = min(neighbors ∪ {u}); emit (v, m) for v > u
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    agg = nbrs.groupBy("src").agg(
        F.collect_set("dst").alias("nb"),
        F.least(F.min("dst"), F.col("src").cast("long")).alias("m"),
    )
    # GroupBy key aggregation keeps 'src' available; explode neighbors > src
    out = agg.select(
        F.col("m"), F.explode(F.filter("nb", lambda v: v > F.col("src"))).alias("v")
    )
    return out.select(F.col("v").alias("src"), F.col("m").alias("dst"))


def _small_star(edges: DataFrame) -> DataFrame:
    # orient high → low; per node u: neighbors all < u (plus u);
    # m = min(closed neighborhood); connect everyone (incl. u) to m
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    agg = oriented.groupBy("src").agg(F.collect_set("dst").alias("nb"), F.min("dst").alias("m"))
    exploded = agg.select(
        "m",
        F.explode(
            F.array_union("nb", F.array(F.col("src").cast("long")))
        ).alias("v"),
    )
    return exploded.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )


def _finish_local(e: DataFrame, rounds: int, resumed: int | None) -> DataFrame:
    """Driver-side union-find over a frontier known to be ≤
    :data:`LOCAL_FINISH_EDGES` rows (the caller checked the count it already
    had from the convergence signature — the gate costs zero extra jobs).
    Star rounds preserve both connectivity and the node set (Kiveris et al.
    §3: every endpoint of a frontier edge reappears as a child or a parent),
    so union-find on ANY intermediate frontier yields exactly the final
    (node, component=min-id) mapping. Union-by-min + path halving keeps the
    min node id at every root, so no relabel pass is needed; fully
    deterministic (sorted unique node table, order-independent unions)."""
    import numpy as np

    spark = e.sparkSession
    pdf = e.toPandas()
    blocks = _ckpt_rdd(e)
    if blocks is not None:  # the returned frame no longer depends on e
        blocks.unpersist(False)
    obs.event("cc", rounds=rounds, local_finish_edges=len(pdf), resumed_from_round=resumed)
    if not len(pdf):
        return empty_frame(spark, "node long, component long")
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    nodes = np.unique(np.concatenate([src, dst]))
    a = np.searchsorted(nodes, src)
    b = np.searchsorted(nodes, dst)
    # vectorized min-label propagation + pointer jumping (r9): the former
    # per-edge Python union-find loop was ~1 s at 1M edges — the dominant
    # cost of the whole components query. Each round scatters the edge-wise
    # min label to both endpoints (np.minimum.at) and then collapses label
    # chains by repeated p ← p[p]; min is commutative so the fixed point is
    # exactly "component = minimum node id" (identical to union-by-min),
    # order-independent and deterministic. Rounds are O(log n) thanks to
    # the pointer doubling; each is a handful of whole-array numpy ops.
    p = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(p[a], p[b])
        np.minimum.at(p, a, m)
        np.minimum.at(p, b, m)
        while True:
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        if np.array_equal(np.minimum(p[a], p[b]), p[a]) and np.array_equal(
            np.minimum(p[a], p[b]), p[b]
        ):
            break
    comp = nodes[p]
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": comp}),
        "node long, component long",
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20,
    checkpoint_dir: str | None = None, checkpoint_every: int = 5,
    checkpoint_buckets: int = 8,
) -> DataFrame:
    """edges(src: long, dst: long) → (node: long, component: long) where
    component is the minimum node id of the component.

    State between rounds is the DIRECTED (child → parent) star forest — both
    star steps emit parent < child, and the fixed point is every node
    pointing at its component's minimum. (Canonicalizing to an undirected
    form inside the loop would erase that direction.)

    Reliable checkpointing: ``localCheckpoint`` stores blocks on executors —
    fast, but an executor loss after lineage truncation fails the job. With
    ``checkpoint_dir`` the edge frontier is ALSO written every
    ``checkpoint_every`` completed rounds through the manifest machinery
    (pipeline/graph.write_stage, write-then-commit), and a rerun resumes
    from the last COMPLETE round without rescanning the input: a crash
    mid-write leaves an incomplete manifest, so that round is ignored and
    its buckets are overwritten when recomputed (crash-resume tested:
    results identical to the uninterrupted run).

    Once the frontier — initial or after any round — fits under
    :data:`LOCAL_FINISH_EDGES` edges, finish with a driver-side union-find
    instead of more rounds (:func:`_finish_local`; exact, same min-id
    labeling).

    Each call records one ``cc`` event: star ``rounds`` run, and
    ``local_finish_edges`` / ``resumed_from_round`` (None when not taken).
    """
    spark = edges.sparkSession
    e = None
    start_round = 0  # committed rounds are >= 1, so 0 means "not resumed"
    if checkpoint_dir is not None:
        from .graph import complete_stages, read_stage

        done = [
            int(s.rsplit("_", 1)[1])
            for s in complete_stages(spark, checkpoint_dir, "cc_round_", checkpoint_buckets)
        ]
        # rounds beyond THIS call's max_iter must not leak in from a longer
        # earlier run (same guard as pagerank): resuming at r > max_iter
        # would return a deeper frontier than the uninterrupted call
        done = [r for r in done if r <= max_iter]
        if done:
            start_round = max(done)
            e = (
                read_stage(spark, checkpoint_dir, f"cc_round_{start_round:04d}")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
    if e is None:
        # eager=False: the _sig action below computes the frontier AND its
        # convergence signature in ONE job (an eager checkpoint + separate
        # signature action would be two full passes per round — at 10^12
        # docs each pass is a full frontier scan)
        e = _canon_undirected(
            edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
        ).localCheckpoint(eager=False)

    def _sig(df: DataFrame) -> tuple:
        # one-job convergence signature: (row count, order-insensitive hash
        # sum). Hashes are reduced mod a 31-bit prime so the sum cannot
        # overflow long even under ANSI mode (raw xxhash64 sums do).
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2147483647))).alias("h"),
        ).first()
        return (r["n"], r["h"])

    sig = _sig(e)  # materializes the lazy checkpoint
    rounds = 0
    if sig[0] <= LOCAL_FINISH_EDGES:
        # hybrid finisher (see LOCAL_FINISH_EDGES): the frontier count came
        # free with the signature job, so the gate adds no work — collect
        # and union-find instead of O(log n) more scheduler round-trips
        return _finish_local(e, rounds, start_round or None)
    for i in range(start_round, max_iter):
        e2 = _small_star(_large_star(e)).distinct().localCheckpoint(eager=False)
        sig2 = _sig(e2)  # one job: computes the round, stores its blocks,
        #                  and returns the convergence signature
        prev = _ckpt_rdd(e)
        e = e2
        rounds += 1
        if prev is not None:
            # release the superseded frontier's blocks — storage stays
            # bounded by two frontiers regardless of round count
            prev.unpersist(False)
        if sig2[0] <= LOCAL_FINISH_EDGES and sig2 != sig:
            # contracted into collect range mid-iteration (converged
            # frontiers fall through to the declarative members∪roots path,
            # which costs no further full passes)
            return _finish_local(e, rounds, start_round or None)
        if sig2 == sig:
            break
        sig = sig2
        if checkpoint_dir is not None and (i + 1) % checkpoint_every == 0:
            from .graph import write_stage

            write_stage(
                e, checkpoint_dir, f"cc_round_{i + 1:04d}", key="src",
                n_buckets=checkpoint_buckets,
            )
    obs.event("cc", rounds=rounds, local_finish_edges=None,
              resumed_from_round=start_round or None)

    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        e.select("dst").distinct()
        .join(e.select(F.col("src").alias("dst")).distinct(), "dst", "left_anti")
        .select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    )
    return members.unionByName(roots).distinct()


def entity_similarity_edges(linked: DataFrame) -> DataFrame:
    """Build the canonicalization edge list: two linked entities are similar
    if they share a mention surface (same mention_norm, different entity) —
    the hub-entity self-join the north rule calls out. Salting is not needed
    here because the join key is mention_norm (bounded fan-out) and AQE
    splits any residual skew."""
    a = linked.select("mention_norm", F.col("entity_id").alias("src"))
    b = linked.select("mention_norm", F.col("entity_id").alias("dst"))
    return (
        a.join(b, "mention_norm")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
