"""Embedding LSH top-k recall, the YAML pipeline config source and the
Iceberg catalog detection."""

from __future__ import annotations

from pyspark.sql import functions as F


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

    # every default is a setting the runner reads: a key it ignored would
    # be silently dropped from a YAML file
    import ast
    import inspect

    from x5_ner_spark.pipeline import runner

    main = ast.parse(inspect.getsource(runner.main))
    read = set()
    for node in ast.walk(main):
        if isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name) \
                and node.value.id == "cfg" and isinstance(node.slice, ast.Constant):
            read.add(node.slice.value)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                and node.func.attr == "get" and isinstance(node.func.value, ast.Name) \
                and node.func.value.id == "cfg" and node.args \
                and isinstance(node.args[0], ast.Constant):
            read.add(node.args[0].value)
    assert set(DEFAULTS) <= read, sorted(set(DEFAULTS) - read)


def test_iceberg_catalog_detection(spark):
    from x5_ner_spark.pipeline.graph import iceberg_catalog

    # sandbox has no Iceberg jars/catalog: parquet layout must be selected
    assert iceberg_catalog(spark) is None
