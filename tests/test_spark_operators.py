"""Spark operator tests: the lexicon reader, stage writes and resume,
dedup, text filters, graph and window operators, each against a
pure-Python expectation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from x5_ner_spark.sources import lexicon


def test_lexicon_roundtrip(spark, tmp_path):
    """A frequency-ordered lexicon file reads back in file order, trimmed,
    without blank lines."""
    p = tmp_path / "lex.txt"
    p.write_text("молоко\n  сок \n\n   \nагуша\n", encoding="utf-8")
    assert lexicon.read_lexicon_set(spark, str(p)) == {"молоко", "сок", "агуша"}
    lines = [r["term"] for r in lexicon.read_lexicon(spark, str(p)).collect()]
    assert lines == ["молоко", "сок", "агуша"]


def _manifest_files(root: str) -> list[str]:
    import os

    from x5_ner_spark.pipeline import graph

    return sorted(f for f in os.listdir(graph.manifest_path(root)) if f.endswith(".parquet"))


def test_write_stage_crash_resume(spark, tmp_path):
    """A bucket dir without its manifest row (crash mid-write) is cleared and
    rewritten on resume — no duplicate rows, and the resumed call commits
    exactly the missing bucket's manifest row in one file."""
    from x5_ner_spark.pipeline import graph

    df = spark.range(100).select(F.col("id"), F.col("id").cast("string").alias("k"))
    root = str(tmp_path / "g")
    graph.write_stage(df, root, "s", key="k", n_buckets=2)
    n0 = graph.read_stage(spark, root, "s").count()
    full = sorted(map(tuple, graph.read_manifest(spark, root, "s")
                      .select("part_id", "n_rows", "min_key", "max_key").collect()))
    # simulate crash: delete ONE bucket's manifest rows but keep its files
    m = spark.read.parquet(graph.manifest_path(root))
    kept = m.filter(F.col("part_id") != 0)
    kept.write.mode("overwrite").parquet(str(tmp_path / "m2"))
    spark.read.parquet(str(tmp_path / "m2")).write.mode("overwrite").parquet(
        graph.manifest_path(root)
    )
    assert graph.pending_parts(spark, root, "s", 2) == [0]
    before = _manifest_files(root)
    written = graph.write_stage(df, root, "s", key="k", n_buckets=2, run_id="resumed")
    assert written == [0]
    assert graph.read_stage(spark, root, "s").count() == n0  # no dupes
    assert len(set(_manifest_files(root)) - set(before)) == 1
    resumed = graph.read_manifest(spark, root, "s")
    assert [r["part_id"] for r in resumed.filter(F.col("run_id") == "resumed").collect()] == [0]
    assert sorted(map(tuple, resumed.select(
        "part_id", "n_rows", "min_key", "max_key").collect())) == full
    assert graph.pending_parts(spark, root, "s", 2) == []


def test_write_stage_manifest_with_empty_bucket(spark, tmp_path):
    """One manifest file per call, one row per bucket: an empty bucket gets
    n_rows=0, the others the row count and key range of what landed."""
    from x5_ner_spark.pipeline import graph

    nb = 4
    keyed = graph.with_bucket(
        spark.range(40).select(F.col("id"), F.col("id").cast("string").alias("k")), "k", nb
    )
    df = keyed.filter(F.col("part_id") != 3).drop("part_id")
    root = str(tmp_path / "g")
    assert graph.write_stage(df, root, "s", key="k", n_buckets=nb) == [0, 1, 2, 3]
    assert len(_manifest_files(root)) == 1
    got = {r["part_id"]: (r["n_rows"], r["min_key"], r["max_key"])
           for r in graph.read_manifest(spark, root, "s").collect()}
    want = {r["part_id"]: (r["n"], r["lo"], r["hi"])
            for r in graph.read_stage(spark, root, "s").groupBy("part_id").agg(
                F.count(F.lit(1)).alias("n"), F.min("k").alias("lo"), F.max("k").alias("hi"),
            ).collect()}
    assert sorted(want) == [0, 1, 2]
    assert got == {**want, 3: (0, None, None)}
    assert graph.complete_stages(spark, root, "", nb) == ["s"]
    # a second stage appends exactly one more manifest file
    graph.write_stage(df, root, "t", key="k", n_buckets=nb)
    assert len(_manifest_files(root)) == 2


def test_near_dup_clusters_keeper_policy(spark):
    from x5_ner_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (9, 10)],
        "doc_id long, n_chars int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 9)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in dedup.near_dup_clusters(docs, pairs).collect()}
    # cluster {1,2,3}: keeper = max n_chars (tie 2 vs 3 -> smaller id 2)
    assert out[1]["keep_id"] == 2 and out[1]["dropped"]
    assert out[2]["keep_id"] == 2 and not out[2]["dropped"]
    assert out[3]["cluster_id"] == out[1]["cluster_id"] and out[3]["dropped"]
    # cluster {4,9}: keeper 4 (n_chars 50 > 10)
    assert out[4]["keep_id"] == 4 and not out[4]["dropped"] and out[9]["dropped"]


def test_scrub_pii_patterns(spark):
    from x5_ner_spark.operators import text_stats

    rows = [
        (1, "mail me at bob.smith+x@corp.example.org now"),
        (2, "see https://a.example/path?q=1&r=2 and http://b.example"),
        (3, "server 192.168.001.5 and phone +7 (915) 123-45-67 ok"),
        (4, "no pii here, just 3.14 and v2.0 and a@b"),  # a@b: TLD too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_stats.scrub_pii(df).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["scrubbed"]
    assert out[2]["n_url"] == 2 and out[2]["scrubbed"].count("<URL>") == 2
    assert out[3]["n_ipv4"] == 1 and out[3]["n_phone"] == 1
    assert "<IP>" in out[3]["scrubbed"] and "<PHONE>" in out[3]["scrubbed"]
    assert out[4]["n_url"] == out[4]["n_email"] == out[4]["n_ipv4"] == out[4]["n_phone"] == 0
    assert out[4]["scrubbed"] == rows[3][1]


def test_pagerank_properties(spark, sf_dir):
    """Ranks sum to 1, hubs outrank leaves, deterministic across runs."""
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import graph_ops

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (6, 5)], "src long, dst long"
    )
    pr = graph_ops.pagerank(edges, iters=5)
    rows = {r["node"]: r["pagerank"] for r in pr.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-4
    assert rows[1] == max(rows.values())  # degree-4 hub
    assert rows[1] > rows[6]
    pr2 = {r["node"]: r["pagerank"] for r in graph_ops.pagerank(edges, iters=5).collect()}
    assert rows == pr2


def test_decontaminate_flags_planted_overlap(spark):
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [(1, "completely unrelated text with many words here today"),
         (2, f"prefix words {shared} suffix words"),
         (3, "short")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, shared)], "doc_id long, text string")
    out = {r["doc_id"]: r["n_shared_shingles"] for r in dedup.decontaminate(train, ev, k=5).collect()}
    assert 2 in out and out[2] >= 1
    assert 1 not in out and 3 not in out
    # plan: eval shingles broadcast, train side not shuffled before the join
    plan = dedup.decontaminate(train, ev, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_asof_join_semantics(spark):
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import windows as W

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00"),
         (3, 2, "2024-01-01 09:00:00")],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0), (1, "2024-01-01 11:00:00", 7.0),
         (2, "2024-01-01 09:30:00", 9.0)],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    out = {r["event_id"]: r for r in
           W.asof_join(left, right, "user_id", "ts", ["value"]).collect()}
    assert out[1]["asof_value"] == 5.0   # equal ts matches (inclusive)
    assert out[2]["asof_value"] == 7.0   # latest prior
    assert out[3]["asof_value"] is None  # nothing at or before -> null


def test_asof_join_tie_determinism(spark):
    """Multiple right rows at the SAME (key, ts): the documented tie rule is
    greatest (value_cols) tuple — stable across runs and partition layouts."""
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import windows as W

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00")], "event_id long, user_id long, ts_s string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    tied = [(1, "2024-01-01 09:00:00", v) for v in (3.0, 9.0, 5.0)]
    for n_parts in (1, 3, 7):
        right = (
            spark.createDataFrame(tied, "user_id long, ts_s string, value double")
            .select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
            .repartition(n_parts)
        )
        out = W.asof_join(left, right, "user_id", "ts", ["value"]).collect()
        assert len(out) == 1 and out[0]["asof_value"] == 9.0, (n_parts, out)


def test_gopher_filters_rules_and_edges(spark):
    """Gopher-style quality filter: rule semantics on crafted docs, incl. the
    n_words<3 edge (the 3-gram branch must not evaluate a negative-length
    sequence) and a pathological repetition doc."""
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import text_stats

    docs = spark.createDataFrame(
        [
            (1, "молоко и хлеб на столе дома"),            # healthy → keep
            (2, "x"),                                      # 1 word → too short
            (3, "и " * 40 + "и"),                          # repetition + short words
            (4, "1 2 3 4 5 6 7 8 и"),                      # numeric: low alpha frac
            (5, "the quick brown fox jumps over dogs"),    # healthy en → keep
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_stats.gopher_filters(docs).collect()}
    assert out[1]["keep"] is True and out[5]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 1
    assert out[2]["dup_3gram_frac"] == 0.0  # short-doc branch, no error
    assert out[3]["keep"] is False  # dup 3-gram fraction ~1.0 and mean len 1
    assert out[3]["dup_3gram_frac"] > 0.9
    assert out[4]["keep"] is False and out[4]["alpha_word_frac"] < 0.6
    # map-only: no Exchange anywhere in the plan
    plan = text_stats.gopher_filters(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # a caller's filter("keep") is pushed below the operator's projections;
    # the token array must still be built once in the Filter and once in
    # the projection, not once per reference to a named intermediate column
    full = text_stats.gopher_filters(docs, carry=("text",))
    kept = full.filter("keep")
    opt = kept._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") <= 2, opt
    assert sorted(kept.collect()) == sorted(r for r in full.collect() if r["keep"])


def test_prf_counters_null_keys_match_oracle(spark, tmp_path):
    """A NULL key present on both sides is one FP and one FN, not a TP, and
    a NULL type gets zero counters — the DuckDB oracle's DISTINCT + JOIN …
    USING semantics, run on the same events."""
    import duckdb

    import __spark_entry__ as entrymod

    # gold = even event ids, pred = odd (q_prf_eval's split)
    events = [
        (0, None, "a"), (6, None, "a"), (2, 1, "a"), (4, 2, "b"),  # gold
        (1, None, "a"), (3, 1, "a"), (5, 3, "b"),                  # pred
        (8, 4, None), (7, 4, None), (10, 5, None),                 # NULL type
    ]
    schema = "event_id long, user_id long, event_type string"
    spark.createDataFrame(events, schema).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_type"]: (r["tp"], r["fp"], r["fn"])
        for r in entrymod.q_prf_eval(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE TABLE events ({schema.replace('long', 'BIGINT')})")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", events)
    want = {
        t: (tp, fp, fn)
        for t, tp, fp, fn, *_ in con.execute(entrymod.oracle_sql()["prf_eval"]).fetchall()
    }
    assert want == {"a": (1, 1, 1), "b": (0, 1, 1), None: (0, 0, 0)}
    assert got == want


def test_canonical_urls_pinned_vectors(spark):
    from x5_ner_spark.operators import text_stats

    cases = {
        "HTTPS://Example.COM:443/a/b?utm_source=x&q=1#f": "https://example.com/a/b?q=1",
        "http://Host:80": "http://host",
        "https://h/x/": "https://h/x",
        "https://h/p?fbclid=z": "https://h/p",
        "https://h/p?utm_a=1&utm_b=2&q=3": "https://h/p?q=3",
        "https://h/p?utm_a=1&utm_b=2&utm_c=3&q=4": "https://h/p?q=4",
        "https://h:80/p": "https://h:80/p",  # non-default port on https kept
        "https://h/p?a=1&gclid=xyz": "https://h/p?a=1",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = {r["url"]: r for r in text_stats.canonical_urls(df).collect()}
    for u, want in cases.items():
        assert out[u]["canon_url"] == want, (u, out[u]["canon_url"])
    assert out["HTTPS://Example.COM:443/a/b?utm_source=x&q=1#f"]["host"] == "example.com"
    assert out["HTTPS://Example.COM:443/a/b?utm_source=x&q=1#f"]["path"] == "/a/b"


def test_tfidf_top_terms_semantics(spark):
    from x5_ner_spark.operators import text_stats

    docs = spark.createDataFrame(
        [(1, "редкое слово"), (2, "слово обычное"), (3, "слово тут")],
        "doc_id long, text string",
    )
    out = text_stats.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tfidf"]))
    # 'слово' appears in every doc → lowest idf; rarer terms outrank it
    top1 = {d: sorted(v)[0][1] for d, v in by_doc.items()}
    assert top1[1] == "редкое" and top1[2] == "обычное" and top1[3] == "тут"
    assert all(len(v) == 2 for v in by_doc.values())


def test_c4_filters_rules(spark):
    from x5_ner_spark.operators import text_stats

    docs = spark.createDataFrame(
        [
            (1, "Это хорошее предложение о молоке. Вода тоже есть!"),
            (2, "function() { return 1; }"),
            (3, "This site uses cookies. Please accept."),
            (4, "Коротко."),                       # no sentence with >=3 words
            (5, "Lorem Ipsum dolor sit amet."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_stats.c4_filters(docs).collect()}
    assert out[1]["keep"] is True and out[1]["n_sentences"] == 2
    assert out[2]["keep"] is False and out[2]["has_code_brace"] is True
    assert out[3]["keep"] is False and out[3]["has_policy_phrase"] is True
    assert out[4]["keep"] is False and out[4]["n_good_sentences"] == 0
    assert out[5]["keep"] is False  # lorem ipsum, case-insensitive
    plan = text_stats.c4_filters(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_asof_join_tie_with_nulls_picks_one_row(spark):
    """Tied right rows where the winner holds a NULL: the output must be the
    winning ROW verbatim (no per-column blending across tied rows)."""
    from pyspark.sql import functions as F

    from x5_ner_spark.operators import windows as W

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00")], "event_id long, user_id long, ts_s string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0, 7.0),
         (1, "2024-01-01 09:00:00", 2.0, None)],
        "user_id long, ts_s string, a double, b double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "a", "b")
    out = W.asof_join(left, right, "user_id", "ts", ["a", "b"]).collect()
    # tie rule: greatest (a, b) tuple -> the (2.0, NULL) row, atomically
    assert len(out) == 1
    assert out[0]["asof_a"] == 2.0 and out[0]["asof_b"] is None


def test_pmi_collocations_semantics(spark):
    """A pair that ALWAYS co-occurs outranks one whose parts also appear
    apart; below-min-count pairs are excluded."""
    from x5_ner_spark.operators import text_stats

    rows = (
        [(i, "красная икра") for i in range(6)]            # exclusive pair
        + [(100 + i, "черная икра") for i in range(6)]     # икра shared
        + [(200 + i, "черная смородина") for i in range(6)]
        + [(300, "редкая пара")]                           # count 1 < min 5
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = [(r["a"], r["b"], r["pmi"]) for r in
           text_stats.pmi_collocations(docs).collect()]
    pairs = {(a, b): p for a, b, p in out}
    assert ("редкая", "пара") not in pairs
    # 'красная икра' is exclusive on 'красная' (c=6) and икра (c=12);
    # 'черная' appears 12 times split over two pairs → lower PMI
    assert pairs[("красная", "икра")] > pairs[("черная", "икра")]
    assert out == sorted(out, key=lambda t: (-t[2], t[0], t[1]))


def test_minhash_signature_agreement_estimates_jaccard(spark):
    """The defining MinHash property for the universal-hash family
    (h_i = (a_i*md5_32(shingle) + b_i) mod P): P[mh_i(A) == mh_i(B)] equals
    the shingle-set Jaccard, so signature agreement over n_hashes is an
    unbiased J estimate. Pins the family SEMANTICALLY (the oracle gate only
    pins that both engines compute the same numbers): exact J computed in
    pure Python with the same tokenizer/shingling, agreement within 3 sigma
    for low/mid/high-overlap pairs, and ordered like the true overlaps."""
    import math

    from x5_ner_spark.operators.dedup import minhash_signatures

    pool = [f"tok{i:03d}" for i in range(220)]
    n_tok, n_hashes, k = 120, 32, 3
    pairs = {  # doc_id pair -> tokens shared from the pool prefix
        (0, 1): 116,   # near-dup
        (2, 3): 60,    # partial overlap
        (4, 5): 6,     # disjoint-ish (few shared shingles)
    }
    rows, py_sets = [], {}
    for (ia, ib), shared in pairs.items():
        ta = pool[:n_tok]
        tb = pool[:shared] + pool[n_tok : 2 * n_tok - shared]
        for i, toks in ((ia, ta), (ib, tb)):
            rows.append((i, " ".join(toks)))
            py_sets[i] = {
                " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
            }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(n_hashes)]
        for r in minhash_signatures(docs, k=k, n_hashes=n_hashes).collect()
    }
    observed = []
    for (ia, ib), _ in pairs.items():
        inter = len(py_sets[ia] & py_sets[ib])
        union = len(py_sets[ia] | py_sets[ib])
        j = inter / union
        agree = sum(a == b for a, b in zip(sig[ia], sig[ib])) / n_hashes
        sigma = math.sqrt(j * (1 - j) / n_hashes)
        assert abs(agree - j) <= max(3 * sigma, 2 / n_hashes), (
            f"pair {(ia, ib)}: agreement {agree} vs exact J {j:.3f}"
        )
        observed.append(agree)
    assert observed[0] > observed[1] > observed[2]


# ---------------------------------------------------------------- substring dedup


def _py_repeated_ngram_spans(texts, n, min_count):
    """Pure-python oracle for dedup.repeated_ngram_spans: corpus n-gram
    occurrence counts -> per-doc covered windows -> merged (touching spans
    coalesce: a new island starts only when start > running max end)."""
    from collections import Counter

    toks = {
        d: [t for t in text.lower().split(" ") if t] for d, text in texts.items()
    }
    cnt = Counter()
    for ts in toks.values():
        for i in range(len(ts) - n + 1):
            cnt[" ".join(ts[i : i + n])] += 1
    out = []
    for d, ts in sorted(toks.items()):
        merged = []
        for i in range(len(ts) - n + 1):
            if cnt[" ".join(ts[i : i + n])] < min_count:
                continue
            if merged and i <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], i + n)
            else:
                merged.append([i, i + n])
        out += [(d, s, e) for s, e in merged]
    return sorted(out)


@pytest.mark.parametrize("n,min_count", [(3, 2), (4, 3), (8, 2)])
def test_repeated_ngram_spans_vs_python(spark, n, min_count):
    from x5_ner_spark.operators.dedup import repeated_ngram_spans

    boiler = "all rights reserved contact us for licensing details today"
    texts = {
        1: f"unique alpha opening words {boiler} and some unique tail one",
        2: f"{boiler} then a different middle section {boiler}",  # in-doc repeat
        3: "completely unrelated body with no shared phrases at all here",
        4: f"prefix {boiler} suffix",
        5: "short doc",  # < n tokens: contributes nothing
        6: "the the the the the the the the the the",  # self-repeating gram
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_ngram_spans(df, n=n, min_count=min_count).collect()
    )
    assert got == _py_repeated_ngram_spans(texts, n, min_count)


def test_repeated_ngram_spans_plan_is_bounded(spark):
    """Single-scan shape: the corpus is tokenized/gram-hashed exactly once
    (one Generate), the global gram count is a window over one gh exchange
    (no join of any kind), and nothing is cartesian or broadcast-sized."""
    from x5_ner_spark.operators.dedup import repeated_ngram_spans

    df = spark.createDataFrame(
        [(i, "common boilerplate phrase repeated verbatim in every single page here")
         for i in range(30)],
        "doc_id long, text string",
    )
    plan = repeated_ngram_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") == 2  # gh, then doc_id
    spans = repeated_ngram_spans(df).collect()
    # identical 10-token docs: one merged span covering every token each
    assert sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in spans) \
        == [(i, 0, 10) for i in range(30)]
