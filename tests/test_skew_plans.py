"""Pipeline CC non-trivial, embedding top-k recall, hub-skew CC rounds,
and physical-plan regression guards (pushdown + broadcast stay in place)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from x5_ner_spark import obs


def hub_edges_df(spark, n_nodes: int = 4096, hub_share: float = 0.1):
    """Entity-similarity edge list with HUB SKEW (SURVEY §7.4(5)): node 0
    carries ~``hub_share`` of all edges — the popular-brand/domain shape the
    north rule calls out — over a ring backbone (long diameter, so CC can't
    converge by luck; the hub's star shortcuts are what keep rounds
    O(log n)). Deterministic, distributed generation (spark.range)."""
    ring = spark.range(n_nodes - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    n_hub = max(int(n_nodes * hub_share / (1.0 - hub_share)), 1)
    stride = max(n_nodes // n_hub, 1)
    hub = spark.range(n_hub).select(
        F.lit(0).cast("long").alias("src"),
        (1 + F.col("id") * stride).alias("dst"),
    ).filter(F.col("dst") < n_nodes)
    return ring.unionByName(hub)


def test_pipeline_components_nontrivial(spark):
    """Ambiguous aliases must produce similarity edges → non-empty components."""
    from x5_ner_spark.pipeline.fixtures import pages_df
    from x5_ner_spark.pipeline.runner import run_pipeline

    out = run_pipeline(spark, pages_df(spark, 150))
    comps = out["components"].collect()
    assert len(comps) > 0
    # each merged group collapses to its minimum entity id
    assert all(r["component"] <= r["node"] for r in comps)


def test_plan_guards(spark, sf_dir):
    """Regression guards for the plans we rely on at scale: parquet filter
    pushdown and broadcast joins for dictionary-sized tables."""
    import __spark_entry__ as m

    plan = m.q_filter_project(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "EqualTo(lang,en)" in plan

    plan2 = m.q_join_agg(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2 or "broadcast" in plan2.lower()

    plan3 = m.q_kg_mentions_by_pred(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan3


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir, monkeypatch):
    from x5_ner_spark.operators import similarity

    monkeypatch.setattr(similarity, "IVF_N_PROBE", 4)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"]) for r in similarity.brute_force_topk(emb, q, k=3).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in similarity.ivf_topk(emb, q, k=3).collect()}
    # approximate: every IVF hit must be a real corpus vector pair; recall
    # against exact top-3 is reported and must be non-trivial on 64-dim data
    recall = len(bf & ivf) / len(bf)
    assert len(ivf) == len(bf) == 15
    assert recall >= 0.2, recall


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """The corpus→cell assignment must be a pure projection (inlined
    centroid argmax): no Exchange, no join, no window before the probe join."""
    from x5_ner_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_cells=8)
    assigned = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        (-F.array_max(similarity._cell_scores(F.col("embedding"), cents))["neg_cell"]).alias("cell_id"),
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
    # every corpus row lands in exactly one valid cell
    n = assigned.filter(F.col("cell_id").isin([c for c, _ in cents])).count()
    assert n == emb.count()


def test_embedding_near_dups_recall(spark):
    """Banded random-projection blocking must recover ≥0.9 of the true
    brute-force near-dup pairs at cosine ≥ 0.95 (planted duplicates)."""
    import numpy as np

    from x5_ner_spark.operators import dedup
    from x5_ner_spark.functions.columns import cosine_similarity_col

    rng = np.random.RandomState(42)
    base = rng.randn(60, 64).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(60)]
    # plant 20 near-duplicates: tiny perturbations of the first 20 vectors
    for j in range(20):
        noisy = base[j] + 0.02 * rng.randn(64).astype("float32")
        rows.append((100 + j, noisy.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    bf = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity_col(F.col("ea"), F.col("eb")) >= 0.95)
        .collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dups(emb, threshold=0.95).collect()
    }
    assert len(bf) >= 20
    assert lsh <= bf  # rescore is exact: no false positives
    assert len(lsh & bf) / len(bf) >= 0.9, (len(lsh & bf), len(bf))


def test_map_only_operators_have_no_exchange(spark, sf_dir):
    """scrub_pii and decision_log are pure map work: any Exchange in their
    plans is a regression (at 100 TB these run inside the scan stage)."""
    import __spark_entry__ as m

    for name in ("scrub_pii", "decision_log"):
        plan = m.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name


def test_near_dup_clusters_lsh_recall_vs_exact(spark):
    """The production dedup path (minhash bands → exact rescore → CC) vs the
    exact shared-shingle path on a planted-duplicate corpus: the rescore is
    exact so every LSH pair is true (no false positives), and banding must
    recover ≥0.9 of the exact path's dropped documents."""
    import random

    from x5_ner_spark.operators import dedup

    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(200)]
    rows = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(14)]
        rows.append((i, " ".join(words), len(" ".join(words))))
        if i < 15:  # plant a near-duplicate: one substituted token
            mut = list(words)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((100 + i, " ".join(mut), len(" ".join(mut))))
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")

    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_rescore(
            docs, dedup.minhash_candidate_pairs(docs, k=3), k=3, threshold=0.5
        ).collect()
    }
    assert len(exact_pairs) >= 15
    assert lsh_pairs <= exact_pairs  # exact rescore: no false positives
    assert len(lsh_pairs & exact_pairs) / len(exact_pairs) >= 0.9

    exact_dropped = {
        r["doc_id"] for r in dedup.near_dup_clusters(
            docs, dedup.jaccard_pairs(docs, k=3, threshold=0.5)
        ).collect() if r["dropped"]
    }
    lsh_dropped = {
        r["doc_id"] for r in dedup.near_dup_clusters_lsh(docs, k=3).collect()
        if r["dropped"]
    }
    # lsh pairs ⊆ exact pairs ⇒ lsh clusters refine exact clusters ⇒ a doc
    # dropped by the lsh path is always dropped by the exact path too
    assert lsh_dropped <= exact_dropped
    assert len(lsh_dropped & exact_dropped) / max(len(exact_dropped), 1) >= 0.9


def test_cc_hub_skew_rounds_and_salted_path(spark, monkeypatch):
    """SURVEY §7.4(5) promised hub-skew stress: one node carries ~10% of all
    edges. CC round count must stay O(log n) (the hub is star-shaped already;
    the ring backbone is the long-diameter part), AQE skew handling is on in
    the session."""
    import math

    from x5_ner_spark.pipeline import canonicalize

    n = 4096
    edges = hub_edges_df(spark, n, hub_share=0.1)
    hub_deg = edges.filter((F.col("src") == 0) | (F.col("dst") == 0)).count()
    total = edges.count()
    assert hub_deg / total >= 0.08, (hub_deg, total)  # the skew is real

    # no local finish: this test is ABOUT the iterative rounds
    monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", 0)
    with obs.recording() as log:
        comp = canonicalize.connected_components(edges)
    [(_, info)] = log  # the call's one cc event
    rows = comp.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)  # ring+hub: one component
    assert info["rounds"] <= math.ceil(math.log2(n)), info  # O(log n), n=4096 → ≤12

    # AQE skew-join splitting is enabled in every session this engine makes
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_tfidf_idf_join_is_broadcast(spark, sf_dir):
    """The idf table is vocabulary-sized: its join back onto tf must stay a
    broadcast (no shuffle of the tf side on term)."""
    from x5_ner_spark.operators import text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = text_stats.tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_iterative_loops_release_superseded_blocks(spark, monkeypatch):
    """VERDICT r3 #4: CC and PageRank must not pin every round's
    localCheckpoint blocks for the app's lifetime. After a multi-round run,
    the number of cached RDDs attributable to the loop must be bounded by a
    small constant (the live frontier), not grow with round count."""
    from x5_ner_spark.operators.graph_ops import pagerank
    from x5_ner_spark.pipeline import canonicalize

    sc = spark.sparkContext

    def n_cached() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    n = 2048
    edges = hub_edges_df(spark, n, hub_share=0.1)
    monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", 0)
    with obs.recording() as log:
        comp = canonicalize.connected_components(edges)
    [(_, info)] = log  # the call's one cc event
    assert comp.count() == n
    assert info["rounds"] >= 3  # the loop really iterated
    after_cc = n_cached()
    # only the final frontier (the returned plan depends on it) may remain
    assert after_cc - base <= 1, (base, after_cc, info)

    pr = pagerank(edges, iters=6)
    assert pr.count() == n
    after_pr = n_cached()
    # final ranks only; und/nodes and superseded rounds are released
    assert after_pr - after_cc <= 1, (after_cc, after_pr)
