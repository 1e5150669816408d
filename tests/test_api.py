"""NerEngine facade tests: single-text oracle equality, DataFrame stages,
fast path equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from x5_ner_spark.api import NerEngine
from x5_ner_spark.core.mention_pipeline import annotate as core_annotate


def test_single_text_is_the_oracle(spark):
    eng = NerEngine(spark, brand_lexicon=["простоквашино"])
    t = "молоко простоквашино 3,2% 1 л"
    assert eng.annotate_text(t) == core_annotate(t, frozenset(["простоквашино"]))
    assert eng.predict_entities("") == []
    assert eng.predict_entities("   ") == []


def test_dataframe_paths_agree(spark):
    eng = NerEngine(spark, brand_lexicon=["простоквашино"])
    rows = [("u1", "<p>кефир 1% данон</p>".encode(), "", "ru"),
            ("u2", None, "молоко простоквашино 2 л", "ru")]
    pages = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    staged = {tuple(r) for r in eng.triples(eng.extract_text(pages).select("url", "text")).collect()}
    fast = {tuple(r) for r in eng.triples_fast(pages, balance=False).collect()}
    assert staged == fast and len(fast) > 0
    ann = {r["url"]: r["annotation"]
           for r in eng.annotate(eng.extract_text(pages).select("url", "text")).collect()}
    assert ann["u2"].startswith("[(0, 6, 'B-TYPE')")


def test_lexicon_build_to_engine_roundtrip(spark, tmp_path):
    """A1 lexicon build → S5 write/read → engine consumes it (the reference's
    build_brand_lexicon.py → infer.py flow, end-to-end in Spark)."""
    from x5_ner_spark.operators.span_udfs import SPAN_ARRAY
    from x5_ner_spark.pipeline.mentions import build_brand_lexicon
    from x5_ner_spark.sources import lexicon as lex_src

    annotated = spark.createDataFrame(
        [("чай greenfield", [{"start": 4, "end": 14, "tag": "B-BRAND"}]),
         ("вода святой источник", [{"start": 5, "end": 20, "tag": "B-BRAND"}])],
        f"text string, spans {SPAN_ARRAY.simpleString()}",
    )
    p = str(tmp_path / "brand_lex")
    lex_src.write_lexicon(build_brand_lexicon(annotated), p)
    terms = lex_src.read_lexicon_set(spark, p)
    assert "greenfield" in terms and "источник" in terms

    eng = NerEngine(spark, brand_lexicon=sorted(terms))
    spans = eng.predict_entities("чай greenfield")
    assert any(t.endswith("BRAND") for _, _, t in spans), spans
    # faithful cascade semantics: lexicon membership alone does NOT brand a
    # token the model gives < 0.2 brand mass (infer.py:367) — Cyrillic
    # unknowns stay O under the stub model
    weak = NerEngine(spark, brand_lexicon=["добрый"]).predict_entities("сок добрый")
    assert (4, 10, "O") in weak


def test_lsh_topk_recall(spark, sf_dir):
    from x5_ner_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in similarity.brute_force_topk(emb, q, k=3).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in similarity.lsh_topk(emb, q, k=3, n_planes=4).collect()}
    # approximate: some recall, never more than k per query
    assert 0 < len(lsh) <= len(bf)


def test_yaml_config_source(tmp_path, monkeypatch):
    from x5_ner_spark.sources.config import DEFAULTS, load_config

    assert load_config(None) == DEFAULTS
    p = tmp_path / "pipeline.yaml"
    p.write_text("n_pages: 123\nout_dir: /tmp/cfg_out\nextra_key: hello\n")
    cfg = load_config(str(p))
    assert cfg["n_pages"] == 123 and cfg["out_dir"] == "/tmp/cfg_out"
    assert cfg["n_buckets"] == 8  # default survives
    assert cfg["extra_key"] == "hello"  # unknown keys kept (ref cfg.get style)
    monkeypatch.setenv("X5_SPARK_N_BUCKETS", "4")
    assert load_config(str(p))["n_buckets"] == 4
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        load_config(str(tmp_path / "missing.yaml"))


def test_iceberg_catalog_detection(spark):
    from x5_ner_spark.pipeline.graph import iceberg_catalog

    # sandbox has no Iceberg jars/catalog: parquet layout must be selected
    assert iceberg_catalog(spark) is None


def test_csv_separator_sniffing(spark, tmp_path):
    from x5_ner_spark.sources.csv_semicolon import read_any_csv, sniff_separator

    cases = {";": "a;b\n1;x\n2;y\n", "\t": "a\tb\n1\tx\n2\ty\n", ",": "a,b\n1,x\n2,y\n"}
    for sep, content in cases.items():
        p = tmp_path / f"f{ord(sep)}.csv"
        p.write_text(content)
        assert sniff_separator(spark, str(p)) == sep
        df = read_any_csv(spark, str(p))
        assert df.columns == ["a", "b"] and df.count() == 2
    # separator inside data doesn't confuse the consistent-minimum rule
    p = tmp_path / "mixed.csv"
    p.write_text("a;b\n1;x,y,z\n2;u\n")
    assert sniff_separator(spark, str(p)) == ";"


def test_csv_separator_sniffing_multifile(spark, tmp_path):
    """Multi-file path: the sample is pinned to one file, and blank/short
    trailing lines don't zero out the per-line minimum."""
    from x5_ner_spark.sources.csv_semicolon import sniff_separator

    d = tmp_path / "multi"
    d.mkdir()
    (d / "part-000.csv").write_text("a\tb\n1\tx\n2\ty\n\n;\n")  # trailing junk
    (d / "part-001.csv").write_text("a\tb\n3\tz\n4\tw\n")
    assert sniff_separator(spark, str(d)) == "\t"
