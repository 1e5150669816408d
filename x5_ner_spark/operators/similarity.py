"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and an LSH-bucketed variant (scale path).

Brute force is a broadcast of the (small) query set against the (huge)
corpus — one pass, no shuffle except the final per-query top-k, which is a
window over |queries|·k rows. The LSH path buckets by random-projection sign
bits so each corpus row joins only its bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import cosine_similarity_col, portable_hash32
from ..functions.scan import scan_parallel


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 3, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector, the top-k corpus neighbors by cosine (excluding
    itself). queries is broadcast; ties broken by neighbor id."""
    corpus = scan_parallel(corpus)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine_similarity_col(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))
    )


def projection_buckets(
    emb: DataFrame, n_planes: int = 8, vec_col: str = "embedding",
    salt_prefix: str = "#p", out_col: str = "bucket",
) -> DataFrame:
    """LSH bucket id from sign bits of pseudo-random hyperplane projections.
    Hyperplane components are hash-derived (deterministic, no stored model):
    plane_j[i] = ±1 by bit of portable_hash32(i || salt_prefix || j). The
    projection is rounded to 6 decimals before the sign test so any engine
    replaying the same formula (the DuckDB oracle) lands in the same bucket
    regardless of float summation order."""
    dim_idx = F.sequence(F.lit(0), F.size(vec_col) - 1)
    bits = []

    def plane_signs(j: int):
        # closure-bind j: a 2-param HOF lambda would receive the array index
        # as its second argument and corrupt the salt
        salt = f"{salt_prefix}{j}"
        return F.transform(
            dim_idx,
            lambda i: F.when(
                portable_hash32(i.cast("string"), salt=salt) % 2 == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )

    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), plane_signs(j), lambda a, s: a.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(F.round(proj, 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return emb.withColumn(out_col, bucket.cast("int"))


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 3, n_planes: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    exact cosine rescore inside the bucket."""
    corpus = scan_parallel(corpus)
    cb = projection_buckets(corpus, n_planes, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    qb = projection_buckets(queries, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine_similarity_col(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))
    )


def label_centroids(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid: element-wise mean via posexplode → avg per (label,
    dim) → reassemble. Native; one shuffle on (label, dim)."""
    exploded = emb.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
    per_dim = exploded.groupBy(label_col, "dim").agg(F.avg("v").alias("m"))
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
        .withColumn("centroid", F.transform("_dm", lambda s: s["m"]))
        .drop("_dm")
    )


def ivf_centroids(
    corpus: DataFrame, n_cells: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded-sample coarse quantizer: the ``n_cells`` corpus
    vectors with the smallest portable_hash32(id || '#ivf') — a uniform
    pseudo-random sample any engine reproduces (ORDER BY hash LIMIT n).
    Collected to the driver: the quantizer is tiny by construction and lives
    driver-side like a broadcast lexicon (FAISS keeps it in RAM too)."""
    rows = (
        corpus.select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cv"),
            portable_hash32(F.col(id_col), salt="#ivf").alias("hv"),
        )
        .orderBy("hv", "cell_id")
        .limit(n_cells)
        .collect()
    )
    return [(int(r["cell_id"]), [float(x) for x in r["cv"]]) for r in rows]


def _cell_scores(vcol: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Literal array of (cell_cos, neg_cell) structs — the whole quantizer is
    inlined into the row expression, so cell scoring is a pure projection:
    no join, no Exchange, stays in whole-stage codegen. cell_cos is rounded
    to 6 decimals so the oracle's argmax agrees; neg_cell makes struct-max /
    descending-sort tie-break toward the SMALLEST cell id."""
    return F.array(*[
        F.struct(
            F.round(
                cosine_similarity_col(vcol, F.array(*[F.lit(x) for x in cv])), 6
            ).alias("cell_cos"),
            F.lit(-cid).alias("neg_cell"),
        )
        for cid, cv in cents
    ])


IVF_N_PROBE = 2
"""Cells each ``ivf_topk`` query probes."""


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 3, n_cells: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: seeded-sample quantizer
    (:func:`ivf_centroids`), corpus rows assigned to their nearest cell by an
    array-argmax over inlined centroids (zero Exchange on the corpus side —
    plan-asserted in tests/test_skew_plans.py), queries probe their
    ``IVF_N_PROBE`` nearest cells, exact cosine rescoring inside probed
    cells.

    At 100 TB: assignment is a map-only pass over the corpus; the search
    shuffles only on cell_id with |query|·IVF_N_PROBE probe rows broadcast.
    The quantizer is the oracle-mirrored raw sample."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    corpus = scan_parallel(corpus)

    c_assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        (-F.array_max(_cell_scores(F.col(vec_col), cents))["neg_cell"]).alias("cell_id"),
    )
    # probe list: ascending struct sort is (cos asc, cell_id desc); reversed
    # → (cos desc, cell_id asc); slice the first IVF_N_PROBE
    q_assigned = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(_cell_scores(F.col(vec_col), cents))),
                    1, IVF_N_PROBE,
                )
            ).alias("probe"),
        )
        .select("query_id", "qv", (-F.col("probe")["neg_cell"]).alias("cell_id"))
    )
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine_similarity_col(F.col("qv"), F.col("nv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))
    )
