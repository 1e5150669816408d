"""Each documented scale lever exercised by an assertion (VERDICT r4 next
#6): plan shape, cap behavior or path agreement, not just a docstring. The
levers are operator arguments that production flips between the exact,
oracle-friendly defaults and the 10^12-document configuration SCALE.md
describes (``max_df``, ``exact=False``), and the input-size thresholds at
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


def test_inverted_index_max_df_bounds_posting_lists(spark):
    """Stopword-like terms produce posting lists proportional to corpus
    size — shuffle hogs at 10^12 docs. max_df must bound every surviving
    posting list and drop the hot terms entirely."""
    from x5_ner_spark.operators.text_stats import inverted_index

    rows = [(i, f"the common stop word term{i % 5} body") for i in range(40)]
    docs = _docs(spark, rows)
    idx = inverted_index(docs, min_df=2, max_df=10).collect()
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
    """r9: exact=True runs the 3-pass histogram-selection path; its output
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
    prof = ts.numeric_profile(df2, "g", "v", exact=True).collect()
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
        prof = ts.numeric_profile(df, "g", "v", exact=True)
    assert sizes and max(sizes) <= ts.PROFILE_HIST_GROUPS + 1, sizes
    got = sorted(map(tuple, prof.collect()))
    assert len(got) == 1000
    assert got == sorted(map(tuple, _percentile_profile(df).collect()))


# ----------------------------------- approx_percentile (numeric profile)


def test_numeric_profile_approx_switch(spark):
    """exact=False must actually swap the aggregate to approx_percentile
    (mergeable sketch, bounded per-group memory) — assert the plan — and
    stay within the sketch's rank-error of the exact answer."""
    from x5_ner_spark.operators.text_stats import numeric_profile

    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v"),
    )
    exact = numeric_profile(df, "g", "v", exact=True)
    approx = numeric_profile(df, "g", "v", exact=False)
    exact_plan = exact._jdf.queryExecution().optimizedPlan().toString()
    approx_plan = approx._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" not in exact_plan
    assert "approx_percentile" in approx_plan

    e = {r["g"]: r for r in exact.collect()}
    a = {r["g"]: r for r in approx.collect()}
    for g in e:
        assert a[g]["min_price"] == e[g]["min_price"]
        assert a[g]["max_price"] == e[g]["max_price"]
        assert a[g]["n_rows"] == e[g]["n_rows"]
        # default accuracy 10000 → rank error ≤ 1/10000; with ~667 rows per
        # group the approx median/p90 is one order statistic away at most
        assert abs(a[g]["median_price"] - e[g]["median_price"]) <= 3.0
        assert abs(a[g]["p90_price"] - e[g]["p90_price"]) <= 3.0


def test_numeric_profile_approx_rank_error_bound(spark):
    """VERDICT r5 #7: the 100× knob's ACCURACY contract, not just its plan
    shape. On a heavy-tailed, tie-dense, group-size-skewed fixture, the
    value approx_percentile returns for quantile q must sit within
    rank-error ε = 1/accuracy of q — i.e. the closed interval of ranks the
    returned value occupies in the exact sorted data must intersect
    [q − ε, q + ε] (±1 order statistic for rounding). Checked at two
    accuracies so the bound is exercised, not vacuous."""
    import bisect
    import random

    from x5_ner_spark.operators.text_stats import numeric_profile

    rng = random.Random(5)
    rows = []
    for g, n in (("small", 60), ("mid", 3000), ("big", 30000)):
        for _ in range(n):
            # heavy right tail + heavy ties at the low end (price-like)
            v = round(1.0 / (rng.random() ** 2 + 1e-3), 1)
            rows.append((g, float(v)))
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)

    exact_vals: dict[str, list[float]] = {}
    for g, v in rows:
        exact_vals.setdefault(g, []).append(v)
    for vs in exact_vals.values():
        vs.sort()

    for accuracy in (100, 2000):
        got = {r["g"]: r for r in
               numeric_profile(df, "g", "v", exact=False, accuracy=accuracy).collect()}
        for g, vs in exact_vals.items():
            n = len(vs)
            assert got[g]["n_rows"] == n
            # ±1.5 order statistics of slack on top of ε: quantile-rank
            # convention (ceil vs floor+interpolate) and the 4-dp rounding
            # are each worth up to one rank; negligible for the big groups
            # where the sketch bound is the binding constraint
            eps = 1.0 / accuracy + 1.5 / n
            for q, col in ((0.5, "median_price"), (0.9, "p90_price")):
                v = got[g][col]
                # rank interval the returned (4-dp rounded) value covers
                lo = bisect.bisect_left(vs, v - 1e-3)
                hi = bisect.bisect_right(vs, v + 1e-3)
                lo_q = (lo - 1) / n
                hi_q = hi / n
                assert lo_q <= q + eps and hi_q >= q - eps, (
                    g, col, accuracy, v, lo, hi, n)
