"""Each documented scale lever exercised by an assertion (VERDICT r4 next
#6): plan shape, cap behavior or path agreement, not just a docstring. The
levers are the bounds SCALE.md describes (``INVERTED_MAX_DF``, a module
constant these tests lower), and the input-size thresholds at
which an operator switches between two exact paths (``LOCAL_JACCARD_DOCS``,
``PROFILE_HIST_MIN_ROWS``: module constants, which these tests set to
force the other path) — if one silently stopped doing its job, the 100 TB
story would be fiction."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------- LOCAL_JACCARD_DOCS (bounded-hybrid jaccard)


def test_jaccard_bincount_kernel_matches_join_path(spark):
    """r9: jaccard_pairs runs the broadcast-postings numpy kernel below
    LOCAL_JACCARD_DOCS and the shared-shingle self-join above it — the two
    must emit IDENTICAL rows (ids, rounded jaccard) on a fixture that
    exercises the edge cases: sub-k-token docs (excluded), exact duplicates
    (jaccard 1.0), a threshold-straddling pair, and disjoint docs."""
    import x5_ner_spark.operators.dedup as dd

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),            # exact dup of 1
        (3, "a b c d e f zz yy"),          # partial overlap with 1/2
        (4, "p q r s t u v w"),            # disjoint
        (5, "p q r s t u v xx"),           # near-dup of 4
        (6, "one two"),                    # < k tokens: no shingles
        (7, ""),                           # empty
    ]
    docs = _docs(spark, rows)
    prev = dd.LOCAL_JACCARD_DOCS
    try:
        dd.LOCAL_JACCARD_DOCS = 0
        joined = sorted(map(tuple, dd.jaccard_pairs(docs, 3, 0.3).collect()))
        dd.LOCAL_JACCARD_DOCS = 10_000
        kernel = sorted(map(tuple, dd.jaccard_pairs(docs, 3, 0.3).collect()))
    finally:
        dd.LOCAL_JACCARD_DOCS = prev
    assert joined == kernel
    assert any({a, b} == {1, 2} and j == 1.0 for a, b, j in kernel)
    assert all({a, b} != {1, 4} for a, b, _ in kernel)


# ------------------------------------------------- max_df (inverted index)


def test_inverted_index_max_df_bounds_posting_lists(spark, monkeypatch):
    """Stopword-like terms produce posting lists proportional to corpus
    size — shuffle hogs at 10^12 docs. max_df must bound every surviving
    posting list and drop the hot terms entirely."""
    from x5_ner_spark.operators import text_stats
    from x5_ner_spark.operators.text_stats import inverted_index

    monkeypatch.setattr(text_stats, "INVERTED_MAX_DF", 10)
    rows = [(i, f"the common stop word term{i % 5} body") for i in range(40)]
    docs = _docs(spark, rows)
    idx = inverted_index(docs, min_df=2).collect()
    by_term = {r["term"]: r for r in idx}
    # 'the'/'common'/'stop'/'word'/'body' appear in all 40 docs → dropped
    for hot in ("the", "common", "stop", "word", "body"):
        assert hot not in by_term, hot
    # term0..term4 appear in 8 docs each → kept, lists bounded
    assert all(len(r["postings"]) <= 10 for r in idx)
    assert "term0" in by_term and by_term["term0"]["df"] == 8


# ----------------------- histogram-selection exact path (numeric profile)


def _percentile_profile(df):
    """numeric_profile's columns computed with the percentile() aggregate."""
    from pyspark.sql import functions as F

    return df.groupBy("g").agg(
        F.round(F.min("v"), 4).alias("min_price"),
        F.round(F.max("v"), 4).alias("max_price"),
        F.expr("percentile(v, array(0.5D, 0.9D))").alias("a"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "g", "min_price", "max_price",
        F.round(F.element_at("a", 1), 4).alias("median_price"),
        F.round(F.element_at("a", 2), 4).alias("p90_price"),
        "n_rows",
    )


def test_numeric_profile_histogram_matches_percentile_aggregate(spark, monkeypatch):
    """r9: the 3-pass histogram-selection path's output
    must equal the percentile() aggregate form on adversarial shapes
    (single value, duplicates, ties, skew, negative, even/odd counts) and
    fall back cleanly on null values / null group keys."""
    import random

    import x5_ner_spark.operators.text_stats as ts

    rnd = random.Random(3)
    cases = {
        "one": [5.0], "dups": [3.0] * 10, "ties": [1.0, 1.0, 2.0, 2.0, 9.0],
        "neg": [-5.5, -1.25, 0.0, 7.75], "odd": [1.0, 2.0, 3.0, 4.0, 5.0],
        "even": [10.0, 20.0, 30.0, 40.0],
        "skew": [1e-9] * 200 + [1e9] * 3,
        "rand": [rnd.uniform(-1e6, 1e6) for _ in range(397)],
    }
    rows = [(g, float(x)) for g, vs in cases.items() for x in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    monkeypatch.setattr(ts, "PROFILE_HIST_MIN_ROWS", 0)
    hist = ts._exact_percentiles_histogram(df, "g", "v", (0.5, 0.9))
    assert hist is not None
    assert sorted(map(tuple, hist.collect())) == sorted(
        map(tuple, _percentile_profile(df).collect()))
    # null group key → fallback (None), handled by the public operator
    df2 = spark.createDataFrame([(None, 1.0), ("a", 2.0)], "g string, v double")
    assert ts._exact_percentiles_histogram(df2, "g", "v", (0.5, 0.9)) is None
    prof = ts.numeric_profile(df2, "g", "v").collect()
    assert len(prof) == 2


def test_numeric_profile_pass_a_collect_is_bounded(spark, monkeypatch):
    """With more groups than the histogram path serves, Pass A brings back
    at most PROFILE_HIST_GROUPS + 1 rows before falling back, and the
    profile equals the percentile() aggregate form."""
    from pyspark.sql import functions as F

    import x5_ner_spark.operators.text_stats as ts

    df = spark.range(5000).select(
        (F.col("id") % 1000).alias("g"), (F.col("id") * 0.37 % 11).alias("v")
    )
    sizes: list[int] = []
    cls = type(df)  # the session's DataFrame class (classic or connect)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    with monkeypatch.context() as mp:
        mp.setattr(cls, "collect", spy)
        prof = ts.numeric_profile(df, "g", "v")
    assert sizes and max(sizes) <= ts.PROFILE_HIST_GROUPS + 1, sizes
    got = sorted(map(tuple, prof.collect()))
    assert len(got) == 1000
    assert got == sorted(map(tuple, _percentile_profile(df).collect()))
