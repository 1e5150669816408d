"""Spark ↔ oracle parity for the KG pipeline: byte-identical extraction,
identical spans, triple P/R vs the reference-semantics oracle (≥ 0.95 gate),
connected components vs union-find, and checkpoint-resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from x5_ner_spark import obs
from x5_ner_spark.core.html_text import extract_text
from x5_ner_spark.core.mention_pipeline import (
    extract_triples,
    final_mention_spans,
    triples_from_spans,
)
from x5_ner_spark.pipeline import canonicalize, extract, fused, graph
from x5_ner_spark.pipeline.fixtures import BRANDS, generate_pages, pages_df
from x5_ner_spark.pipeline.runner import run_pipeline

N = 300


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N).cache()


def test_fixture_determinism(spark):
    a = pages_df(spark, 60).orderBy("url").collect()
    b = pages_df(spark, 60).orderBy("url").collect()
    assert a == b
    local = {r["url"]: r for r in map(lambda d: d, generate_pages(60))}
    for row in a:
        assert bytes(row["html"]) == local[row["url"]]["html"]


def test_extract_byte_identity(spark, pages):
    docs = extract.run(pages)
    rows = docs.select("url", "html", "text").collect()
    assert len(rows) == N
    for r in rows:
        assert r["text"] == extract_text(bytes(r["html"])), r["url"]
        assert len(r["text"]) > 0


def test_mentions_match_oracle_exactly(spark, pages):
    """Every page's triples from the fused stage are those of its spans
    under the driver-side mention detector, duplicates included."""
    lexset = frozenset(BRANDS)
    lexlist = sorted(lexset)
    got = sorted(tuple(r) for r in fused.fused_triples(pages, lexset).collect())
    rows = extract.run(pages).select("url", "text").collect()
    assert len(rows) == N
    want = sorted(
        (*t, r["url"])
        for r in rows
        for t in triples_from_spans(
            r["url"], r["text"], final_mention_spans(r["text"], lexset, lexlist)
        )
    )
    assert got == want and len(want) > N


def test_triples_pr_gate(spark, pages):
    """The BASELINE.json gate: P/R ≥ 0.95 vs the reference-semantics oracle
    triple set. The engine and oracle share core/, so this should be exact."""
    lex = [b for b in BRANDS]
    lexset = frozenset(lex)
    trip = fused.fused_triples(pages, lexset)
    got = {(r["subj"], r["pred"], r["obj"]) for r in trip.collect()}

    want = set()
    for r in extract.run(pages).select("url", "text").collect():
        for t in extract_triples(r["url"], r["text"], lexset):
            want.add(t)

    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0  # shared core ⇒ exact


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then map every node to min of its component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.parametrize("local_finish", [0, None])  # iterative / hybrid finisher
@pytest.mark.parametrize("edges", [
    [(1, 2), (2, 3), (10, 11), (20, 20)],
    [(1, 2), (3, 4), (2, 3), (5, 6), (6, 7), (7, 5)],
    [(i, i + 1) for i in range(1, 40)],                      # long chain
    [(0, i) for i in range(1, 50)] + [(100, 101)],           # hub star
    [],
])
def test_connected_components_vs_union_find(spark, monkeypatch, edges, local_finish):
    if local_finish is not None:
        monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", local_finish)
    if not edges:
        df = spark.createDataFrame([], "src long, dst long")
        assert canonicalize.connected_components(df).count() == 0
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in canonicalize.connected_components(df).collect()
    }
    nodes = sorted({x for e in edges for x in e})
    want = _union_find_components([e for e in edges if e[0] != e[1]], nodes)
    # CC result must cover every non-isolated node with the min-id component
    for n in nodes:
        if any(a != b and n in (a, b) for a, b in edges):
            assert got[n] == want[n], (n, got.get(n), want[n])


def _info(log, name):
    """The fields of the ``name`` events that carry a value."""
    return {k: v for n, f in log if n == name for k, v in f.items() if v is not None}


def test_cc_local_finish_gate_boundary_and_markers(spark, monkeypatch):
    """The hybrid finisher fires exactly at frontier ≤ LOCAL_FINISH_EDGES —
    immediately when the input already fits (rounds == 0), mid-iteration
    once a star round contracts under the bar — and records a ``cc`` event
    so runs are auditable. All paths must agree exactly."""
    from x5_ner_spark.pipeline import canonicalize

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )  # 40-edge chain; star rounds contract it fast

    def run(threshold):
        monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", threshold)
        with obs.recording() as log:
            rows = sorted(
                map(tuple, canonicalize.connected_components(edges).collect())
            )
        return rows, _info(log, "cc")

    exact, it_info = run(0)
    assert "local_finish_edges" not in it_info and it_info["rounds"] >= 3

    at_bar, info = run(40)  # count == threshold → fires before any round
    assert info == {"rounds": 0, "local_finish_edges": 40}
    assert at_bar == exact

    # a chain's star forest keeps n-1 edges, so its frontier never dips
    # under the bar mid-loop — a clique contracts 190 → 19 in one round
    clique = spark.createDataFrame(
        [(i, j) for i in range(20) for j in range(i + 1, 20)],
        "src long, dst long",
    )
    monkeypatch.setattr(canonicalize, "LOCAL_FINISH_EDGES", 100)
    with obs.recording() as log:
        mid = sorted(map(tuple, canonicalize.connected_components(clique).collect()))
    info = _info(log, "cc")
    assert info["rounds"] >= 1 and info["local_finish_edges"] <= 100
    assert mid == [(n, 0) for n in range(20)]

    # storage hygiene: the finisher releases the collected frontier's blocks
    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    run(40)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= base


def test_graph_write_and_resume(spark, pages, tmp_path):
    root = str(tmp_path / "kg")
    docs = extract.run(pages).select("url", "text")
    written = graph.write_stage(docs, root, "docs", key="url", n_buckets=4)
    assert sorted(written) == [0, 1, 2, 3]
    back = graph.read_stage(spark, root, "docs")
    assert back.count() == N
    # manifests recorded per bucket; re-run is a no-op (checkpoint-resume)
    m = graph.read_manifest(spark, root, "docs")
    assert m.count() == 4
    assert m.agg(F.sum("n_rows")).first()[0] == N
    assert graph.write_stage(docs, root, "docs", key="url", n_buckets=4) == []
    assert graph.pending_parts(spark, root, "docs", 4) == []


def test_full_pipeline_smoke(spark, pages):
    out = run_pipeline(spark, pages)
    assert set(out) == {"docs", "triples", "linked", "components", "nodes", "edges"}
    assert out["triples"].count() > 0
    assert out["linked"].count() > 0
    assert set(out["triples"].columns) == {"subj", "pred", "obj", "url"}


def test_dedup_docs_keeps_one_canonical_page(spark, pages):
    """VERDICT r7 #7: the ingestion-path near-dup filter. Clone a page under
    new urls (one clone trailing extra text); dedup_docs keeps exactly one
    canonical copy per cluster — the longest text — and leaves every
    non-duplicated page untouched."""
    from x5_ner_spark.pipeline.runner import dedup_docs

    docs = extract.run(pages)
    base = docs.orderBy("url").limit(1).collect()[0]
    clones = spark.createDataFrame(
        [
            ("dup://a", base["text"]),
            ("dup://b", base["text"] + " хвост дубликата страницы"),
        ],
        "url string, text string",
    )
    aug = docs.select("url", "text").unionByName(clones)
    kept = dedup_docs(aug)
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    survivors = kept_urls & {base["url"], "dup://a", "dup://b"}
    assert survivors == {"dup://b"}  # longest text wins the keeper pick
    # every page outside the planted cluster survives
    assert len(kept_urls) == N + 2 - 2


def test_run_pipeline_dedup_flag(spark, pages):
    """run_pipeline(dedup=True) must drop the cloned page from BOTH the doc
    table and the triple stage (the fused stage reads the kept docs, so the
    two stay in sync)."""
    clone_html = pages.orderBy("url").limit(1).collect()[0]["html"]
    clones = spark.createDataFrame(
        [("dup://p1", None, bytes(clone_html), None, "ru")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    aug = pages.select("url", "warc_ts", "html", "text", "lang").unionByName(clones)
    out = run_pipeline(spark, aug, dedup=True)
    n_docs = out["docs"].count()
    assert n_docs == N  # exactly one of the two identical pages survived
    trip_urls = {r["url"] for r in out["triples"].select("url").distinct().collect()}
    assert len(trip_urls & {"dup://p1", pages.orderBy("url").limit(1).collect()[0]["url"]}) <= 1
    out["triples"].unpersist()


def test_run_pipeline_quality_flag(spark, pages, tmp_path):
    """run_pipeline(quality_npz=...) drops low-scoring pages from BOTH the
    doc table and the triple stage before inference. Uses the deterministic
    lexicon checkpoint (training is pinned by test_quality_train); the
    planted junk page has zero stopwords → sigmoid(-0.5) ≈ 0.38 < 0.5."""
    from x5_ner_spark.operators import quality_train as QT

    w, b = QT.lexicon_quality_model()
    npz = QT.save_quality_npz(w, b, str(tmp_path / "q.npz"))
    junk_text = "junkword0 junkword1 junkword2 junkword3"
    # precondition: no junk token may hash-collide into a stopword bucket
    assert all(w[QT.hash_bucket(t, len(w))] == 0.0 for t in junk_text.split())
    junk = spark.createDataFrame(
        [("junk://q1", None, None, junk_text, "ru")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    aug = pages.select("url", "warc_ts", "html", "text", "lang").unionByName(junk)
    expected = {
        r["url"]
        for r in extract.run(aug)
        .filter(QT.quality_score_col(w, b) >= 0.5)
        .select("url")
        .collect()
    }
    assert "junk://q1" not in expected and len(expected) > 0
    out = run_pipeline(spark, aug, quality_npz=npz, quality_min=0.5)
    assert {r["url"] for r in out["docs"].select("url").collect()} == expected
    trip_urls = {r["url"] for r in out["triples"].select("url").distinct().collect()}
    assert "junk://q1" not in trip_urls
    out["triples"].unpersist()


def test_lsh_valve_default_on():
    """near_dup_clusters_lsh carries the production hub-skew default; the
    candidate generator stays exact-by-default for the oracle surface."""
    import inspect

    from x5_ner_spark.operators import dedup as D

    assert (
        inspect.signature(D.near_dup_clusters_lsh).parameters["max_bucket"].default
        == D.DEFAULT_MAX_BUCKET
    )
    assert (
        inspect.signature(D.minhash_candidate_pairs).parameters["max_bucket"].default
        is None
    )
