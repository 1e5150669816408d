"""The two batch jobs the benchmark times, their inputs and their checks.

Each workload has: a prepare step (seeded inputs written as parquet, off
the clock), a job (a pages or documents table in, committed tables out)
and a check that compares the committed output against references
computed here, from the inputs, with the pure ``core`` functions.
"""

from __future__ import annotations

import os
import random
import re
import shutil
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from x5_ner_spark.operators import dedup as D
from x5_ner_spark.operators import text_stats as T
from x5_ner_spark.pipeline import candidates, canonicalize, fused, graph, runner
from x5_ner_spark.pipeline.fixtures import BRANDS

N_BUCKETS = 8
KG_SENTENCES = 4
JACCARD_THRESHOLD = 0.5  # jaccard_pairs' default
SAMPLE_PAGES = 48
SAMPLE_DOCS = 300

# Input rows per second of --seconds. Each job carries a per-job cost that
# does not grow with rows: one-time JVM code generation and JIT, which a
# submitted job pays on every run, and the Spark jobs themselves. On a
# 4-core host, one seed at two sizes gave kg_build 31.6 s at 4,800 pages
# and 41.7 s at 9,600 (about 21 s per-job), and curate 21.9 s at 8,000
# documents and 30.9 s at 16,000 (about 13 s per-job). At these sizes
# per-row work is about a third of kg_build's job and two fifths of
# curate's; larger inputs do not fit a ten-run comparison of two commits
# in an hour, since each run also pays 15-20 s of session start.
ROWS_PER_SECOND = {"kg_build": 192, "curate": 320}


class Workload:
    name: str

    def prepare(self, work: str, seed: int, rows: int, files: int) -> dict:
        """Write the seeded inputs under ``work``; return their paths and
        whatever the check needs to know about them."""
        raise NotImplementedError

    def warmup(self, spark, inputs: dict) -> None:
        """A small pass of the job's Python-worker stage: spawns the workers
        and loads what they load once per process."""
        raise NotImplementedError

    def job(self, spark, inputs: dict, out: str) -> None:
        raise NotImplementedError

    def check(self, spark, inputs: dict, out: str) -> list[str]:
        """Failures found in the committed output (empty when correct)."""
        raise NotImplementedError

    def read(self, spark, inputs: dict) -> dict:
        """The input tables as DataFrames."""
        raise NotImplementedError

    def pair_yield(self, spark, inputs: dict) -> float:
        """Verified near-dup pairs over LSH candidate pairs (0 without LSH)."""
        return 0.0


def _write(path: str, table: pa.Table, files: int) -> None:
    """Write ``table`` as ``files`` parquet files (one scan partition each),
    through a temporary directory so a half-written input is never read."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _pages_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)


def _ref_triples(pages: list[dict], ctx: str) -> dict[str, list[tuple]]:
    """Triples per url recomputed on the driver exactly as the fused stage
    defines them: extract → batched mention spans → triples."""
    from x5_ner_spark.core.emission import provider_for
    from x5_ner_spark.core.html_text import extract_text
    from x5_ner_spark.core.mention_pipeline import final_mention_spans_batch, triples_from_spans

    lex = frozenset(BRANDS)
    texts = [extract_text(p["html"]) for p in pages]
    keep = [(p["url"], t) for p, t in zip(pages, texts) if t and t.strip()]
    spans = final_mention_spans_batch([t for _, t in keep], lex, sorted(lex),
                                      provider=provider_for(ctx))
    out = {p["url"]: [] for p in pages}
    for (url, t), sp in zip(keep, spans):
        out[url] = sorted(triples_from_spans(url, t, sp))
    return out


def _check_stages(spark, out: str, stages: list[str]) -> list[str]:
    """Every stage committed all its buckets, and its manifest counts the
    rows its table holds."""
    fails = []
    complete = set(graph.complete_stages(spark, out, "", N_BUCKETS))
    for st in stages:
        if st not in complete:
            fails.append(f"stage {st} is not complete")
            continue
        n_manifest = graph.read_manifest(spark, out, st).groupBy().sum("n_rows").first()[0]
        n_table = graph.read_stage(spark, out, st).count()
        if n_manifest != n_table:
            fails.append(f"stage {st}: manifest n_rows {n_manifest} != table rows {n_table}")
    return fails


def _union_find_min(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Node → smallest node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


class KgBuild(Workload):
    """The documented ingestion path: run_pipeline with dedup, the contextual
    checkpoint and a generated alias dictionary, over 4-sentence pages."""

    name = "kg_build"

    def prepare(self, work, seed, rows, files):
        path = os.path.join(work, f"{self.name}_{seed}_{rows}")
        pages, _ = gen.kg_pages(seed, rows, KG_SENTENCES, gen.NEAR_COPY_PERCENT)
        _write(path + "_pages", _pages_table(pages), files)
        aliases = gen.alias_rows(seed)
        _write(path + "_aliases", pa.table({
            "alias_norm": [a[0] for a in aliases],
            "entity_id": pa.array([a[1] for a in aliases], pa.int64()),
            "entity_kind": [a[2] for a in aliases],
            "prior": [a[3] for a in aliases],
        }), 1)
        return {"pages": path + "_pages", "aliases": path + "_aliases", "seed": seed,
                "rows": rows, "ctx": gen.ctx_checkpoint(work)}

    def read(self, spark, inputs):
        return {"pages": spark.read.parquet(inputs["pages"]),
                "aliases": spark.read.parquet(inputs["aliases"])}

    def warmup(self, spark, inputs):
        pages = self.read(spark, inputs)["pages"]
        fused.fused_triples(pages, frozenset(BRANDS), emission_npz=inputs["ctx"]) \
            .write.mode("overwrite").format("noop").save()

    def job(self, spark, inputs, out):
        t = self.read(spark, inputs)
        runner.run_pipeline(
            spark, t["pages"], out_root=out, alias_dict=t["aliases"],
            n_buckets=N_BUCKETS, emission_npz=inputs["ctx"], dedup=True,
        )

    def pair_yield(self, spark, inputs):
        """Verified pairs over LSH candidate pairs, with dedup_docs' settings."""
        from x5_ner_spark.pipeline import extract

        docs = extract.run(self.read(spark, inputs)["pages"])
        keyed = docs.select(F.xxhash64("url").alias("doc_id"), "text")
        cand = D.minhash_candidate_pairs(keyed, max_bucket=D.DEFAULT_MAX_BUCKET).persist()
        try:
            n_cand = cand.count()
            n_verified = D.jaccard_rescore(keyed, cand).count()
        finally:
            cand.unpersist()
        return n_verified / n_cand if n_cand else 0.0

    def check(self, spark, inputs, out):
        fails = _check_stages(spark, out, ["triples", "nodes", "edges"])

        # triples of a seeded sample of pages, recomputed on the driver
        pages, copies = gen.kg_pages(inputs["seed"], inputs["rows"], KG_SENTENCES,
                                     gen.NEAR_COPY_PERCENT)
        near_dup = set(copies) | set(copies.values())
        sample = random.Random(inputs["seed"]).sample(pages, min(SAMPLE_PAGES, len(pages)))
        got: dict[str, list] = {p["url"]: [] for p in sample}
        for r in (graph.read_stage(spark, out, "triples")
                  .filter(F.col("url").isin(list(got)))
                  .select("subj", "pred", "obj", "url").collect()):
            got[r["url"]].append((r["subj"], r["pred"], r["obj"]))
        for url, want in _ref_triples(sample, inputs["ctx"]).items():
            have = sorted(got[url])
            # a planted near-copy or its original may be the page dedup drops
            if have != want and not (not have and url in near_dup):
                fails.append(f"triples of {url}: got {have[:3]}…, want {want[:3]}…")

        # component labels against a driver union-find over the similarity
        # edges the pipeline derives from the committed triples
        cand = candidates.run(
            candidates.mention_table(graph.read_stage(spark, out, "triples")),
            self.read(spark, inputs)["aliases"],
        )
        comp = _union_find_min(
            [(r["src"], r["dst"]) for r in canonicalize.entity_similarity_edges(cand).collect()])
        nodes = graph.read_stage(spark, out, "nodes").select("entity_id", "canonical_id").collect()
        if not nodes:
            fails.append("nodes stage is empty")
        for r in nodes:
            want = comp.get(r["entity_id"], r["entity_id"])
            if r["canonical_id"] != want:
                fails.append(f"entity {r['entity_id']}: component {r['canonical_id']}, union-find {want}")
        return fails


def kept_docs(docs):
    """The curator's use of the Gopher filter: documents whose ``keep`` holds."""
    return T.gopher_filters(docs, carry=("text",)).filter("keep")


def _round4(x: float) -> float:
    # Spark's round(): HALF_UP on the decimal form of the double
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def gopher_keep(text: str) -> bool:
    """Pure-Python restatement of text_stats.gopher_filters' ``keep``."""
    toks = [t for t in text.split(" ") if t]
    n = len(toks)
    if n == 0:
        return False
    mean_len = _round4(sum(len(t) for t in toks) / n)
    alpha = _round4(sum(1 for t in toks if re.search(T._LETTER_CLASS, t)) / n)
    grams = [tuple(toks[i:i + 3]) for i in range(n - 2)]
    dup = _round4(1.0 - len(set(grams)) / len(grams)) if n >= 3 else 0.0
    stops = set(T.EN_STOPWORDS + T.RU_STOPWORDS)
    hits = sum(1 for t in toks if t.lower() in stops)
    return (T.GOPHER_MIN_WORDS <= n <= T.GOPHER_MAX_WORDS
            and T.GOPHER_MIN_MEAN_WORD_LEN <= mean_len <= T.GOPHER_MAX_MEAN_WORD_LEN
            and alpha >= T.GOPHER_MIN_ALPHA_WORD_FRAC
            and dup <= T.GOPHER_MAX_DUP_3GRAM_FRAC
            and hits >= T.GOPHER_MIN_STOPWORD_HITS)


def shingle_jaccard(a: str, b: str, k: int = 3) -> Fraction:
    """Exact k-token shingle Jaccard, as jaccard_pairs defines it."""
    def sh(t):
        toks = [w for w in t.split(" ") if w]
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return Fraction(0)
    inter = len(sa & sb)
    return Fraction(inter, len(sa) + len(sb) - inter)


class Curate(Workload):
    """Corpus curation without inference: exact Jaccard near-dup clusters
    and the Gopher quality filter; the kept documents are written."""

    name = "curate"

    def prepare(self, work, seed, rows, files):
        path = os.path.join(work, f"curate_{seed}_{rows}_docs")
        docs, _ = gen.curate_docs(seed, rows)
        _write(path, pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "n_chars": [d[2] for d in docs],
        }), files)
        return {"docs": path, "seed": seed, "rows": rows}

    def read(self, spark, inputs):
        return {"docs": spark.read.parquet(inputs["docs"])}

    def warmup(self, spark, inputs):
        D.jaccard_pairs(self.read(spark, inputs)["docs"], threshold=JACCARD_THRESHOLD).count()

    def job(self, spark, inputs, out):
        docs = self.read(spark, inputs)["docs"]
        clusters = D.near_dup_clusters(docs, D.jaccard_pairs(docs, threshold=JACCARD_THRESHOLD))
        graph.write_stage(clusters, out, "clusters", key="doc_id", n_buckets=N_BUCKETS)
        dropped = graph.read_stage(spark, out, "clusters").filter("dropped").select("doc_id")
        curated = kept_docs(docs).join(dropped, "doc_id", "left_anti")
        graph.write_stage(curated, out, "kept", key="doc_id", n_buckets=N_BUCKETS)

    def check(self, spark, inputs, out):
        fails = _check_stages(spark, out, ["clusters", "kept"])
        docs, planted = gen.curate_docs(inputs["seed"], inputs["rows"])
        text = {d[0]: d[1] for d in docs}
        clusters = {r["doc_id"]: (r["cluster_id"], r["keep_id"], r["dropped"])
                    for r in graph.read_stage(spark, out, "clusters").collect()}
        kept = {r["doc_id"] for r in graph.read_stage(spark, out, "kept").select("doc_id").collect()}
        n_checked = 0
        for a, b in planted:
            if shingle_jaccard(text[a], text[b]) >= JACCARD_THRESHOLD:
                n_checked += 1
                if a not in clusters or b not in clusters or clusters[a][0] != clusters[b][0]:
                    fails.append(f"planted pair {a},{b} does not share a cluster")
        if not n_checked:
            fails.append("no planted pair reached the threshold")
        for doc, (cid, keep, dropped) in clusters.items():
            if dropped and (keep not in clusters or clusters[keep][0] != cid or clusters[keep][2]):
                fails.append(f"doc {doc}: keeper {keep} is not the kept member of cluster {cid}")
        rng = random.Random(inputs["seed"])
        for doc_id, t, _ in rng.sample(docs, min(SAMPLE_DOCS, len(docs))):
            want = gopher_keep(t) and not (doc_id in clusters and clusters[doc_id][2])
            if (doc_id in kept) != want:
                fails.append(f"doc {doc_id}: kept={doc_id in kept}, recomputed {want}")
        return fails


WORKLOADS = {w.name: w for w in (KgBuild(), Curate())}
