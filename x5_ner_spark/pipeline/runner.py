"""End-to-end KG pipeline driver: pages → graph tables.

Launch via the repo-root shim (spark-submit runs the script as __main__,
which breaks relative imports on module files):

    spark-submit --master ... --py-files x5_ner_spark.zip kg_submit.py \
        --pages <parquet> --out <dir> [--buckets K]
"""

from __future__ import annotations

import argparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import obs
from ..functions.columns import lex_norm_col
from . import candidates, canonicalize, extract, graph, linking
from .fixtures import BRANDS


def default_alias_dict(spark: SparkSession) -> DataFrame:
    """Deterministic alias dictionary built from the fixture brand list plus
    the TYPE hint vocabulary (FIXTURES.md §4). Real deployments load an
    Iceberg table; the shape is what matters: (alias_norm, entity_id,
    entity_kind, prior)."""
    from ..core.cascade import TYPE_HINTS
    from ..core.textnorm import lex_norm

    rows, eid = [], 0
    for b in sorted(BRANDS):
        rows.append((lex_norm(b), eid, "BRAND", 0.9))
        eid += 1
    for t in sorted(TYPE_HINTS):
        rows.append((lex_norm(t), eid, "TYPE", 0.8))
        eid += 1
    # ambiguous aliases: the same surface maps to several entity ids — these
    # are exactly the edges canonicalization must collapse (hub-entity case)
    ambiguous = ["молоко", "вода", lex_norm("santa")]
    for a in ambiguous:
        rows.append((a, eid, "DUP", 0.5))
        eid += 1
    # pandas-built: a LocalTableScan, where a list-built frame would be a
    # Python RDD that wakes Python workers at every broadcast of it
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["alias_norm", "entity_id", "entity_kind", "prior"]),
        "alias_norm string, entity_id long, entity_kind string, prior double",
    )


def dedup_docs(docs: DataFrame) -> DataFrame:
    """Near-dup page filter for the ingestion path: MinHash-LSH clusters
    over the extracted text (operators/dedup.near_dup_clusters_lsh, with
    its default threshold and hub-skew valve at DEFAULT_MAX_BUCKET), ONE
    canonical page kept per cluster (longest text, ties → smallest id) —
    the standard pre-inference dedup of a web-corpus pipeline (a crawl is
    20-40% near-duplicate; deduping before the model pass saves that
    fraction of inference cost). Page identity is xxhash64(url) — adequate
    to 10^8 pages; a production deployment keys on a 128-bit url
    fingerprint column instead."""
    from ..operators import dedup as D

    keyed = docs.withColumn("_did", F.xxhash64("url"))
    clusters = D.near_dup_clusters_lsh(
        keyed.select(
            F.col("_did").alias("doc_id"),
            "text",
            F.length("text").cast("double").alias("n_chars"),
        ),
    )
    drops = clusters.filter("dropped").select(F.col("doc_id").alias("_did"))
    return keyed.join(drops, "_did", "left_anti").drop("_did")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str | None = None,
    brand_lexicon: list[str] | None = None,
    alias_dict: DataFrame | None = None,
    n_buckets: int = 8,
    run_id: str = "run0",
    emission_npz: str | None = None,
    dedup: bool = False,
    quality_npz: str | None = None,
    quality_min: float = 0.5,
) -> dict[str, DataFrame]:
    """Returns the stage DataFrames (``docs``, ``triples``, ``linked``,
    ``components``, ``nodes``, ``edges``); writes stage tables + manifests when
    ``out_root`` is given (checkpoint-resume per graph.write_stage).

    ``dedup=True`` inserts the near-dup page filter (:func:`dedup_docs`)
    between extraction and inference; its hub-skew valve is always on
    (VERDICT r7 #7).

    ``quality_npz`` inserts the learned-quality page filter AFTER dedup
    (the standard curation order: dedup first so boilerplate clusters don't
    dominate, classifier second): pages scoring below ``quality_min`` under
    the operators/quality_train checkpoint are dropped before inference.
    The filter is a map-only Column expression — zero extra shuffles on the
    ingestion path (train the checkpoint with ``--fit-quality``).

    Each intermediate is computed once. Under ``dedup`` the extracted docs
    are persisted (the dedup signatures, rescore sets and keeper picks all
    read them), and the kept docs, which carry their text, feed the fused
    stage directly. The candidate table is persisted, so canonicalization
    and the node and edge tables share one alias-dictionary join.

    Cache ownership: every cache this function creates is released before
    it returns, except the triple stage's. With ``out_root`` that one is
    released too. On the library path (no ``out_root``) the caller owns
    ``out["triples"].unpersist()``, once finished with the returned frames;
    the others are uncached plans, and those built on the triples read its
    cache."""
    docs = extract.run(pages)
    owned = []  # caches released before returning
    if dedup:
        docs = docs.persist()
        owned.append(docs)
        docs = dedup_docs(docs)
    if quality_npz:
        from ..operators import quality_train as QT

        qw, qb, qng = QT.load_quality_npz(quality_npz)
        docs = docs.filter(
            QT.quality_score_col(qw, qb, ngrams=qng) >= float(quality_min)
        )
    lex = brand_lexicon if brand_lexicon is not None else [b for b in BRANDS]
    # triple production uses the fused single-Arrow-stage path (pipeline/
    # fused.py — row-identical to the driver oracle, one JVM↔Python hop) and
    # is persisted once so canonicalization's iterative actions and the
    # caller's writes don't re-run inference (on a cluster, write_stage's
    # Iceberg tables play this role; in-memory persist covers the library
    # path). Called through the module attribute, where tracers wrap it.
    from . import fused

    # a filtered docs table already carries its extracted text, which the
    # fused stage keeps (it extracts only null/empty text)
    src = docs if dedup or quality_npz else pages
    trip = fused.fused_triples(src, frozenset(lex), emission_npz=emission_npz).persist()

    adict = alias_dict if alias_dict is not None else default_alias_dict(spark)
    ments = candidates.mention_table(trip)
    # filled by the canonicalization signature job below; the node and edge
    # tables reuse it
    cand = candidates.run(ments, adict).persist()
    owned.append(cand)
    linked = linking.run(cand)

    # similarity edges come from the FULL candidate set (an ambiguous alias
    # links several entities); `linked` keeps only the argmax winner and so
    # can never produce a merge edge
    edges = canonicalize.entity_similarity_edges(cand)
    comp = canonicalize.connected_components(edges)

    # node/edge tables: canonical entity nodes + (page)-[pred]->(entity) edges
    ent_nodes = (
        linked.join(comp, linked.entity_id == comp.node, "left")
        .select(
            "entity_id",
            F.coalesce("component", "entity_id").alias("canonical_id"),
            "entity_kind",
        )
        .distinct()
    )
    link_sel = linked.select(
        F.col("mention_norm").alias("link_mn"),
        F.col("pred").alias("link_pred"),
        F.col("entity_id"),
    )
    kg_edges = trip.join(
        F.broadcast(link_sel),
        (lex_norm_col(trip.obj) == F.col("link_mn"))
        & (trip.pred == F.col("link_pred")),
        "left",
    ).select("subj", "pred", "obj", "entity_id", "url")

    out = {
        "docs": docs, "triples": trip, "linked": linked,
        "components": comp, "nodes": ent_nodes, "edges": kg_edges,
    }
    if out_root:
        graph.write_stage(trip, out_root, "triples", key="url", n_buckets=n_buckets, run_id=run_id)
        graph.write_stage(ent_nodes, out_root, "nodes", key="entity_id", n_buckets=n_buckets, run_id=run_id)
        graph.write_stage(kg_edges, out_root, "edges", key="subj", n_buckets=n_buckets, run_id=run_id)
        # all downstream actions are done — release the cached blocks so
        # repeated invocations in one session don't accumulate storage
        owned.append(trip)
    for df in owned:
        df.unpersist()
    return out


def _fit(args, docs: DataFrame) -> dict:
    """``--fit-quality`` / ``--fit-emission`` / ``--fit-crf``: train on the
    extracted ``docs``, save the checkpoint, and report it with the first
    and last loss of its ``train_loss`` events."""
    from ..operators import emission_train as ET
    from ..operators import quality_train as QT

    q = bool(args.fit_quality)
    iters = args.train_iters if args.train_iters is not None else (60 if q else 30)
    lr = args.train_lr if args.train_lr is not None else (2.0 if q else 0.8)
    with obs.recording() as log:
        if q:
            labeler = (QT.perplexity_labels if args.quality_labels == "perplexity"
                       else QT.gopher_labels)
            qw, qb = QT.fit_quality_classifier(
                labeler(docs.select(F.col("url").alias("doc_id"), "text")),
                iters=iters, lr=lr, ngrams=args.quality_ngrams,
            )
            saved = QT.save_quality_npz(qw, qb, args.fit_quality, ngrams=args.quality_ngrams)
            report = {"mode": "fit_quality", "out": saved, "ngrams": args.quality_ngrams}
        elif args.fit_emission:
            labels = ET.teacher_labels(docs.select("text"))
            report = {"mode": "fit_emission", "out": ET.fit_npz_emission(
                labels, args.fit_emission, iters=iters, lr=lr)}
        else:
            seqs = ET.teacher_sequences(docs.select("text"))
            report = {"mode": "fit_crf", "out": ET.fit_crf_npz(
                seqs, args.fit_crf, iters=iters, lr=lr)}
    loss = [f["loss"] for name, f in log if name == "train_loss"]
    return {**report, "iters": len(loss), "loss_first": round(loss[0], 4),
            "loss_last": round(loss[-1], 4)}


def main() -> None:
    from ..session import get_spark
    from ..sources.config import load_config
    from .fixtures import pages_df

    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None, help="YAML config (S7); flags override")
    ap.add_argument("--pages", default=None, help="parquet path of pages table")
    ap.add_argument("--n", type=int, default=None, help="synthesize N pages if no --pages")
    ap.add_argument("--out", default=None)
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument(
        "--emission-npz", default=None,
        help="weights-on-disk emission checkpoint (core/emission.py); "
             "loaded once per worker process — the real-model swap point",
    )
    ap.add_argument(
        "--fit-emission", default=None, metavar="OUT_NPZ",
        help="TRAIN mode: distributed softmax-CE fit of the emission MLP on "
             "stub-teacher labels over the input pages; saves OUT_NPZ "
             "(servable via --emission-npz) and exits",
    )
    ap.add_argument(
        "--fit-crf", default=None, metavar="OUT_NPZ",
        help="TRAIN mode: joint exact-NLL fit of emission MLP + CRF on "
             "stub-teacher tag sequences; saves OUT_NPZ and exits",
    )
    ap.add_argument(
        "--fit-quality", default=None, metavar="OUT_NPZ",
        help="TRAIN mode: distributed logistic-regression fit of the "
             "learned quality classifier on gopher-rule-distilled labels "
             "over the input pages; saves OUT_NPZ (servable via "
             "--quality-npz) and exits",
    )
    ap.add_argument(
        "--train-iters", type=int, default=None,
        help="per-mode default: 30 (emission/crf), 60 (quality — the "
             "iteration count the recorded calibration/accuracy numbers "
             "were produced with; ADVICE r8)",
    )
    ap.add_argument(
        "--train-lr", type=float, default=None,
        help="per-mode default: 0.8 (emission/crf), 2.0 (quality)",
    )
    ap.add_argument(
        "--dedup", action="store_true",
        help="near-dup page filter before inference (MinHash-LSH clusters, "
             "one keeper per cluster; hub-skew valve on)",
    )
    ap.add_argument(
        "--quality-npz", default=None,
        help="learned quality-classifier checkpoint (--fit-quality output); "
             "pages scoring below --quality-min are dropped before inference",
    )
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument(
        "--quality-labels", default="gopher", choices=("gopher", "perplexity"),
        help="--fit-quality weak-supervision source: gopher rule verdict, "
             "or CCNet-shape bigram-LM perplexity median split (use "
             "--quality-ngrams 2 with perplexity — a bigram signal is "
             "invisible to unigram features)",
    )
    ap.add_argument(
        "--quality-ngrams", type=int, default=1, choices=(1, 2),
        help="--fit-quality featurization: 1 = unigram presence, 2 = + "
             "hashed word bigrams (stored in the checkpoint; serving "
             "auto-matches)",
    )
    args = ap.parse_args()

    cfg = load_config(args.config)
    pages_path = args.pages if args.pages is not None else cfg["pages_path"]
    n_pages = args.n if args.n is not None else int(cfg["n_pages"])
    out_dir = args.out if args.out is not None else cfg["out_dir"]
    n_buckets = args.buckets if args.buckets is not None else int(cfg["n_buckets"])

    spark = get_spark(app_name="x5-kg-pipeline")
    lex = None
    if cfg.get("brand_lexicon_path"):
        from ..sources.lexicon import read_lexicon_set

        lex = sorted(read_lexicon_set(spark, cfg["brand_lexicon_path"]))
    pages = spark.read.parquet(pages_path) if pages_path else pages_df(spark, n_pages)

    if args.fit_quality or args.fit_emission or args.fit_crf:
        print(_fit(args, extract.run(pages)))
        return

    run_pipeline(
        spark, pages, out_root=out_dir, brand_lexicon=lex,
        n_buckets=n_buckets, run_id=str(cfg["run_id"]),
        emission_npz=args.emission_npz,
        dedup=args.dedup,
        quality_npz=args.quality_npz,
        quality_min=args.quality_min,
    )
    # the committed row counts, from the manifests: counting the returned
    # frames would run the pipeline again, its caches already released
    print({
        stage: graph.read_manifest(spark, out_dir, stage).groupBy().sum("n_rows").first()[0]
        for stage in ("triples", "nodes", "edges")
    })


if __name__ == "__main__":
    main()
