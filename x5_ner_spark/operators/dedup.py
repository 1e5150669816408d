"""Deduplication operators for web-scale corpora: exact, shingle-Jaccard,
MinHash banding (LSH), SimHash, embedding-cosine near-dup.

Scale design:
- exact dedup: one groupBy on a fingerprint (map-side combine, no row text
  in the shuffle);
- shingling is map-only: per-doc dedup is an ``array_distinct`` over a
  native transform (the old explode→``.distinct()`` shape shuffled one row
  per shingle of the corpus just to drop WITHIN-doc duplicates);
- MinHash runs the salted md5s inside a codegen'd partial aggregate, so the
  signature shuffle is ~one row per doc per input partition — the hashing
  itself never enters an exchange. (A fully map-side HOF variant was
  measured 2× slower: higher-order-function lambdas are interpreted
  per-element, while aggregate expressions stay in whole-stage codegen.)
- near-dup: shingle → band-bucket join, so candidate pairs are generated
  per-bucket instead of a quadratic self-join; buckets are hash-distributed
  (no skew: band key includes the band index);
- self-joins sit on an explicit hash repartition (or a signature aggregate)
  so both branches read ONE ReusedExchange instead of recomputing the
  scan+shingling per side;
- generator inputs are always INLINE complex expressions, never a bare
  attribute from a projection below: ``InferFiltersFromGenerate`` infers
  ``size(attr) > 0`` filters from attribute inputs, and predicate pushdown
  then substitutes the whole shingling pipeline into the Filter — measured
  ~3 evaluations per row (the expression is re-run for the size check, the
  null check, and the projection; HOFs get no codegen CSE);
- all hashing is md5-based ``portable_hash32`` (cross-engine deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import obs
from ..functions.columns import (
    bind_once, cosine_similarity_col, empty_frame, portable_hash32,
    simple_tokens_col,
)
from ..functions.scan import scan_parallel

LOCAL_JACCARD_DOCS = 500_000
"""Corpus size (docs) at or below which :func:`jaccard_pairs` runs the
broadcast-postings kernel instead of the shared-shingle self-join — the
same bounded-hybrid pattern as the CC driver finisher
(pipeline/canonicalize.LOCAL_FINISH_EDGES). Rationale: the self-join's
output is Σ_shingle df² rows funneled into a hash aggregate over every
co-shingle doc pair (measured at sf1.0: 257M joined rows → 114M distinct
pairs → a multi-GB exchange for a ~10³-row result). The kernel instead
collects the per-doc HASHED shingle sets — ~8 bytes per corpus token,
bounded by construction: 500k docs ≈ 200 MB, under the 1 GB
driver.maxResultSize default — builds shingle→doc posting lists once,
broadcasts them (tens of MB), and counts pair intersections with
vectorized numpy inside parallel tasks, emitting ONLY threshold
survivors. Nothing quadratic ever crosses an exchange. Above the bound
the exact self-join shape still runs (jaccard_pairs is the documented
oracle-only variant; the 100 TB path is near_dup_clusters_lsh)."""


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) docs; returns one row per
    duplicated fingerprint with count and min doc_id (the keeper)."""
    docs = scan_parallel(docs)
    normed = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return (
        docs.select(F.col("doc_id"), F.md5(normed).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def _with_tokens(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, toks) for docs with ≥k tokens — the shared shingling base.
    scan_parallel: every consumer (shingle/minhash/jaccard) is map-heavy,
    so an unsplittable input would serialize the whole hashing pass."""
    docs = scan_parallel(docs)
    toks = simple_tokens_col("text")
    return docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= k)


def _sh_expr(k: int):
    """k-token shingle array over the ``toks`` column (with duplicates).

    Grams are built by DIRECT concat of the k elements with literal
    separators instead of ``concat_ws(" ", slice(...))`` — the slice
    materializes a k-element Scala collection per gram (the measured
    allocation hotspot of every shingle pass); direct concat is 2×
    faster with byte-identical strings (tokens are non-null and contain
    no separator, so concat ≡ concat_ws here)."""
    idx = F.sequence(F.lit(0), F.size("toks") - k)

    def gram(i):
        parts = []
        for j in range(k):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at("toks", i + 1 + j))
        return F.concat(*parts)

    return F.transform(idx, gram)


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Exploded ``(doc_id, shingle)`` rows, distinct per doc — map-only.
    The generator input stays an inline expression (not an aliased column
    from a projection below) so InferFiltersFromGenerate cannot clone the
    shingling pipeline into a pushed-down Filter (see module docstring)."""
    return _with_tokens(docs, k).select(
        "doc_id", F.explode(F.array_distinct(_sh_expr(k))).alias("shingle")
    )


def _sized_shingles(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_sh, shingle) rows — the per-doc distinct-set size rides
    every exploded row, so Jaccard needs no separate sizes aggregate and no
    post-join size lookups. Single evaluation of the shingle array: it is
    bound ONCE as a lambda variable, and the struct explode carries
    (size, shingle) pairs out of it."""
    bound = bind_once(
        F.array_distinct(_sh_expr(k)),
        lambda sh: F.transform(
            sh, lambda s: F.struct(F.size(sh).alias("n_sh"), s.alias("shingle"))
        ),
    )
    return _with_tokens(docs, k).select(
        "doc_id", F.explode(bound).alias("x")
    ).select("doc_id", F.col("x.n_sh").alias("n_sh"), F.col("x.shingle").alias("shingle"))


def _hashed_shingle_sets(docs: DataFrame, k: int) -> DataFrame:
    """Per-doc distinct shingle sets as 64-BIT HASHES ``(doc_id, sh:
    array<long>)`` — token k-tuples fed straight into xxhash64, no
    concat_ws shingle strings (the string form's Scala collection churn is
    the measured allocation hotspot; see gopher_filters). Tokens are
    space-split and non-empty, so string-shingle ↔ token-tuple is
    bijective: set sizes and intersections are identical up to 64-bit
    tuple-hash collisions (≈ n_sh²/2⁶⁵ per doc pair, ~1e-15 — the same
    accepted class as gopher's hashed trigrams; the DuckDB oracle keeps
    exact string shingles and would catch any systematic divergence)."""
    idx = F.sequence(F.lit(0), F.size("toks") - k)
    hashed = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at("toks", i + 1 + j) for j in range(k)]),
        )
    )
    return _with_tokens(docs, k).select("doc_id", hashed.alias("sh"))


def _jaccard_pairs_bincount(d: DataFrame, k: int, threshold: float) -> DataFrame:
    """Broadcast-postings all-pairs Jaccard kernel (see
    :data:`LOCAL_JACCARD_DOCS` for when it runs and why).

    Shape: one map-only pass collects ``(doc_id, xxhash64-shingle set)`` —
    the lightweight proxy of the corpus (~8 B/token); the driver builds
    shingle→doc posting lists once (numpy, sorted by doc index so pair
    emission is deterministic) and broadcasts them; ``n_blocks`` tasks each
    expand their doc block's postings, count per-pair shared shingles with
    one sort + run-length encode, apply the threshold with a conservative
    margin, and emit ONLY surviving (id_a, id_b, n_inter, na, nb) rows. The
    final jaccard/round/filter runs as Spark expressions with the same
    long/long double division as the join shape, so published values are
    identical. Hashing note: intersection counts use 64-bit shingle hashes
    instead of strings — a collision needs two distinct shingles of the
    SAME doc pair to collide (≈ n_sh²/2⁶⁵ per pair, ~1e-15), the same
    accepted class as gopher's hashed trigrams; the DuckDB oracle keeps
    exact string shingles and would catch any systematic divergence."""
    import numpy as np

    spark = d.sparkSession
    out_schema = "id_a long, id_b long, n_inter long, na long, nb long"
    pdf = _hashed_shingle_sets(d, k).toPandas()
    n = len(pdf)
    pairs_schema = "id_a long, id_b long, jaccard double"
    if n < 2:
        return empty_frame(spark, pairs_schema)
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    doc_ids = pdf["doc_id"].to_numpy()[order].astype(np.int64)
    arrs = pdf["sh"].to_numpy()[order]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    if int(lens.sum()) == 0:
        return empty_frame(spark, pairs_schema)
    flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
    doc_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=doc_off[1:])
    # postings from ONE stable sort of the flat hashes (np.unique +
    # argsort(inverse) cost a second 2.6M-element sort on the driver —
    # the load-sensitive single-threaded phase): equal hashes group
    # together, and stability keeps the doc-major order of `flat`, so
    # each posting lists docs ascending, exactly as before.
    order = np.argsort(flat, kind="stable")
    flat_sorted = flat[order]
    post_docs = np.repeat(np.arange(n, dtype=np.int32), lens)[order]
    change = np.empty(len(flat), dtype=bool)
    change[0] = True
    np.not_equal(flat_sorted[1:], flat_sorted[:-1], out=change[1:])
    post_off = np.append(np.flatnonzero(change), len(flat)).astype(np.int64)
    ginv = np.empty(len(flat), dtype=np.int64)
    ginv[order] = np.cumsum(change) - 1
    bc = spark.sparkContext.broadcast({
        "doc_ids": doc_ids,
        "lens": lens,
        "doc_off": doc_off,
        "gids": ginv.astype(np.int64),
        "post_docs": post_docs,
        "post_off": post_off,
    })
    n_blocks = max(min(2 * spark.sparkContext.defaultParallelism, n - 1), 1)
    # conservative superset bound: F.round(x,4) >= t can only admit
    # x >= t - 5e-5; the exact filter below re-applies Spark's rounding
    margin = threshold - 1e-4

    def count_blocks(batches):
        import numpy as np
        import pyarrow as pa

        v = bc.value
        doc_ids_, lens_, doc_off_ = v["doc_ids"], v["lens"], v["doc_off"]
        gids_, post_docs_, post_off_ = v["gids"], v["post_docs"], v["post_off"]
        nn = len(doc_ids_)
        for batch in batches:
            for blk in batch.column(0).to_pylist():
                lo = blk * nn // n_blocks
                hi = (blk + 1) * nn // n_blocks
                if lo >= hi:
                    continue
                g = gids_[doc_off_[lo]:doc_off_[hi]]
                if not len(g):
                    continue
                starts = post_off_[g]
                plens = post_off_[g + 1] - starts
                total = int(plens.sum())
                # ragged multi-range expansion (every plens >= 1: a gid's
                # posting always contains its own doc, so the += targets
                # below are unique)
                step = np.ones(total, dtype=np.int64)
                step[0] = starts[0]
                cut = np.cumsum(plens)[:-1]
                step[cut] += starts[1:] - (starts[:-1] + plens[:-1])
                b = post_docs_[np.cumsum(step)].astype(np.int64)
                a_rep = np.repeat(
                    np.repeat(np.arange(lo, hi, dtype=np.int64),
                              lens_[lo:hi]),
                    plens,
                )
                mask = b > a_rep
                key = a_rep[mask] * nn + b[mask]
                if not len(key):
                    continue
                key.sort()
                change = np.empty(len(key), dtype=bool)
                change[0] = True
                np.not_equal(key[1:], key[:-1], out=change[1:])
                uk = key[change]
                pos = np.flatnonzero(change)
                inter = np.diff(np.append(pos, len(key))).astype(np.int64)
                ai = uk // nn
                bi = uk % nn
                na = lens_[ai]
                nb = lens_[bi]
                keep = inter / (na + nb - inter) >= margin
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(doc_ids_[ai[keep]], type=pa.int64()),
                        pa.array(doc_ids_[bi[keep]], type=pa.int64()),
                        pa.array(inter[keep], type=pa.int64()),
                        pa.array(na[keep], type=pa.int64()),
                        pa.array(nb[keep], type=pa.int64()),
                    ],
                    names=["id_a", "id_b", "n_inter", "na", "nb"],
                )

    res = spark.range(0, n_blocks, 1, n_blocks).mapInArrow(
        count_blocks, out_schema
    )
    return (
        res.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(docs: DataFrame, k: int = 3, threshold: float = 0.5) -> DataFrame:
    """n-gram Jaccard near-dup pairs. Up to :data:`LOCAL_JACCARD_DOCS` docs
    the broadcast-postings kernel runs (:func:`_jaccard_pairs_bincount`);
    above it, shared-shingle blocking: |A∩B| from the shingle join,
    |A∪B| = |A|+|B|−|A∩B|. Quadratic blowup is bounded because only docs
    sharing a shingle ever meet. Set sizes ride the join rows (two ints)
    and the self-join reads ONE repartition exchange from both sides —
    total: one corpus exchange plus the pair groupBy (the old shape had 11
    exchanges: a corpus-wide distinct, a sizes aggregate, and two size
    lookup joins, all gone). Both paths emit identical rows; the call
    records a ``jaccard_path`` event (``kernel`` or ``join``, and ``docs``).
    """
    n_docs = docs.count()  # metadata-only on parquet sources
    local = n_docs <= LOCAL_JACCARD_DOCS
    obs.event("jaccard_path", path="kernel" if local else "join", docs=n_docs)
    if local:
        return _jaccard_pairs_bincount(docs, k, threshold)
    # ONE exchange, reused by both join sides
    src = _sized_shingles(docs, k).repartition("shingle")
    a = src.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"), "shingle")
    b = src.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            # na/nb are constant within the group (they rode the join rows)
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


MH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_coeffs(n_hashes: int) -> list:
    """Deterministic affine coefficients (a_i odd < 2^31, b_i < 2^31) for the
    universal-hash MinHash family, from a fixed 31-bit LCG — Python-side so
    the Spark plan and the DuckDB oracle inline the SAME literals."""
    x = 20260817
    out = []
    for _ in range(n_hashes):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x | 1
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append((a, x))
    return out


def minhash_signatures(docs: DataFrame, k: int = 3, n_hashes: int = 8) -> DataFrame:
    """MinHash: per doc, min over shingles of n_hashes permutation values.
    Each shingle is md5-hashed ONCE (portable_hash32); the per-seed values
    derive from the classic universal-hash family h_i = (a_i·h + b_i) mod P
    with P prime > 2^32 — the same construction the public datasketch
    MinHash uses. An n-salted-md5s variant measured ~2.5× slower (the md5
    dominates; a_i·h+b_i is three codegen'd integer ops). Overflow-safe in
    signed 64-bit on both engines: a<2^31, h<2^32 ⇒ a·h+b < 2^63.

    The mins run inside a codegen'd partial aggregate, so the exchange
    carries ~(doc_id, n_hashes longs) per doc per input partition — no
    shingle text, no corpus-wide distinct (per-doc dedup is array_distinct
    in the map stage; duplicates wouldn't change a min, but deduping first
    avoids re-hashing them)."""
    ex = _with_tokens(docs, k).select(
        "doc_id", F.explode(F.array_distinct(_sh_expr(k))).alias("shingle")
    )
    hashed = ex.select("doc_id", portable_hash32(F.col("shingle")).alias("h"))
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MH_PRIME))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_structs(n_hashes: int, band_size: int):
    """array<struct<band,bucket>> over the mh* signature columns — exploding
    this hits every band in ONE pass over the signatures (a union of
    per-band selects would recompute the whole signature pipeline per
    band), and the inline CreateArray keeps InferFiltersFromGenerate out."""
    n_bands = n_hashes // band_size
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"mh{b * band_size + j}").cast("string")
                for j in range(band_size)
            ])).alias("bucket"),
        )
        for b in range(n_bands)
    ])


def minhash_band_buckets(
    docs: DataFrame, k: int = 3, n_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """LSH banding: concat band_size minhashes per band → bucket id; returns
    (band, bucket, n_docs) for buckets holding >1 doc (dedup candidates).
    The band index is part of the key, spreading buckets across partitions.
    Two small exchanges total: the signature aggregate and the bucket
    groupBy — both post-partial-agg row counts, never shingle text."""
    sig = minhash_signatures(docs, k, n_hashes)
    keyed = sig.select(
        "doc_id", F.explode(_band_structs(n_hashes, band_size)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return (
        keyed.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_candidate_pairs(
    docs: DataFrame, k: int = 3, n_hashes: int = 8, band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one (band, bucket). The
    self-join runs per bucket (band index in the key — no skew pile-up, no
    all-pairs); multi-band collisions dedup to one row per pair. Both join
    branches read the ONE signature-aggregate exchange (ReusedExchange), so
    scan+shingling+hashing run once. This is the 100 TB candidate
    generator — candidate volume is O(Σ bucket²) instead of O(docs²),
    tunable via n_hashes/band_size.

    ``max_bucket``: the HUB-SKEW valve. A boilerplate/hub shingle shared by
    a constant fraction of the corpus drags whole document groups into the
    same band buckets, and a bucket of size m emits m² candidate pairs —
    one hub in 25% of 10^12 docs is a 10^22-pair term. Buckets larger than
    ``max_bucket`` are dropped BEFORE the self-join (standard LSH practice:
    an over-full bucket carries no discriminative signal — membership means
    "contains the hub", not "near-duplicate"; true near-dups still meet in
    their other, selective bands). The hot-bucket list is tiny by
    construction (≤ n_docs·n_bands / max_bucket entries) and broadcasts.
    Off (None) by default: exact oracle semantics."""
    sig = minhash_signatures(docs, k, n_hashes)
    keyed = sig.select(
        "doc_id", F.explode(_band_structs(n_hashes, band_size)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket is not None:
        hot = (
            keyed.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "bucket")
        )
        keyed = keyed.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a = keyed.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = keyed.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_rescore(
    docs: DataFrame, pairs: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT shingle-Jaccard over candidate pairs only: per-doc shingle sets
    (map-only, :func:`_hashed_shingle_sets`) ride two doc_id-keyed joins onto the
    (small) pair list, intersection via native array_intersect. The sets sit
    on one doc_id repartition that BOTH joins reuse (alias-aware output
    partitioning carries it through the id_a/id_b renames), so the corpus is
    shingled once and exchanged once; only pair-sized rows shuffle after
    that. Set size is bounded by document length, so the arrays are
    shuffle-safe at scale; nothing quadratic happens here.

    r9: the sets are HASHED shingles (:func:`_hashed_shingle_sets`) — the
    intersection/size counts are identical (collision bound ~1e-15/pair)
    and the rescore pass neither builds shingle strings nor shuffles
    them (8 B/shingle in the doc_id exchange instead of ~25 B)."""
    sh_sets = _hashed_shingle_sets(docs, k).repartition("doc_id")
    a = sh_sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


DEFAULT_MAX_BUCKET = 512
"""Production default for the hub-skew valve (VERDICT r7 #7). Rationale:
a band bucket of m docs emits m² candidate pairs, and a boilerplate hub in
a constant fraction of a web corpus makes m proportional to the CORPUS —
the one term in the dedup plan that does not scale. 512 bounds any single
bucket to ≤ 262k pairs (one task's work) while sitting far above every
legitimate near-dup bucket observed at sandbox scales (max 10 at sf0.1) —
genuinely over-full buckets carry no discriminative signal (membership
means "contains the hub"). The measured aggressive pairing for
boilerplate-heavy corpora is max_bucket=64 with n_hashes=16 (recall
0.9964 at 2.4× wall vs 0.958 at n_hashes=8 — BENCH/BASELINE.md round 7,
tools/hub_skew_stress.py)."""


def near_dup_clusters_lsh(
    docs: DataFrame, k: int = 3, threshold: float = 0.5,
    n_hashes: int = 8, band_size: int = 2, quality_col: str = "n_chars",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The PRODUCTION corpus-dedup composition (VERDICT r2 #4): MinHash-LSH
    band buckets → candidate pairs → EXACT Jaccard rescore → connected
    components → keeper. Same output schema as :func:`near_dup_clusters`;
    differs only where LSH recall misses a true pair (rescore is exact, so
    surviving pairs are always true near-dups — no false positives). At
    100 TB this is the default: the exact shared-shingle join's hot-shingle
    quadratic term never materializes.

    ``max_bucket`` (hub-skew valve, see :func:`minhash_candidate_pairs`) is
    ON by default at :data:`DEFAULT_MAX_BUCKET` — corpus-scale callers get
    the bounded-quadratic plan without opting in; pass ``None`` for exact
    LSH semantics (every bucket self-joined). Run exact-fingerprint dedup
    first at scale: a cluster of > max_bucket IDENTICAL docs collides in
    every band, so all its buckets cap and the valve drops it — exact dups
    are the cheap groupBy's job (:func:`exact_duplicates`), not LSH's."""
    cand = minhash_candidate_pairs(docs, k, n_hashes, band_size, max_bucket)
    rescored = jaccard_rescore(docs, cand, k, threshold)
    return near_dup_clusters(docs, rescored, quality_col=quality_col)


def repeated_ngram_spans(
    docs: DataFrame, n: int = 8, min_count: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" shape, re-expressed as
    declarative DataFrame ops instead of a suffix array): find every
    maximal token span covered by ``n``-gram windows that occur ≥
    ``min_count`` times across the WHOLE corpus — the ranges a training
    pipeline clips out of otherwise-unique pages (boilerplate, licenses,
    quoted reposts that doc-level MinHash never sees).

    Plan: tokens → all token ``n``-grams with their start index (map-only:
    transform over a sequence, no explode-then-window) → ONE exchange on
    the 32-bit portable gram hash where `count(*) over (partition by gh)`
    computes each gram's GLOBAL count in place (all occurrences of a hash
    are co-located, so the partition count IS the corpus count) → filter
    `count ≥ min_count` → per-doc gaps-and-islands merge of overlapping
    windows (window partitioned BY doc, bounded by doc length). Output:
    one row per merged span — (doc_id, span_start, span_end) in token
    indices, end exclusive — deterministic.

    Why window-count instead of the textbook groupBy + hot-set join: the
    count branch of the join shape re-derives the grams (column pruning
    strips doc_id/start from it, so the exchange subplans never
    canonicalize equal and ReusedExchange cannot fire) — the corpus would
    be scanned, tokenized, and md5-hashed TWICE, and the hot set at web
    scale is far too large to broadcast, so the probe side pays the same
    occurrence-sized exchange anyway. The window shape does one scan, one
    md5 pass, one corpus-sized exchange, zero joins — pinned by the plan
    test (single Generate, no join, exactly two exchanges). Trade: AQE
    skew-join splitting does not apply to windows, so a hyper-hot gram's
    occurrence list sorts inside one task (WindowExec spills; ~10^8
    occurrences ≈ low GBs — see SCALE.md §repeated-ngram-spans for the
    boundary and the join-shape fallback analysis).

    Memory/scale notes: nothing quadratic anywhere; the only corpus-sized
    exchanges carry (hash) or (doc_id, start) longs. A 32-bit hash collides
    eventually at 10^12 docs — collisions only ever ADD a span (a false
    "repeated" mark), never drop one, matching the conservative direction
    for dedup; widen to md5 if exactness matters more than width.
    """
    docs = scan_parallel(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        simple_tokens_col(F.lower(text_col)).alias("toks"),
    ).withColumn("m", F.size("toks")).filter(F.col("m") >= n)
    def _gram(i):
        # direct concat — no per-gram slice collection (see _sh_expr)
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at("toks", i + 1 + j))
        return F.concat(*parts)

    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.col("m") - n), _gram)
        ).alias("start", "gram"),
    ).select("doc_id", "start", portable_hash32(F.col("gram")).alias("gh"))
    occ = (
        grams.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("cnt") >= min_count)
        .select("doc_id", "start", (F.col("start") + n).alias("end"))
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = occ.withColumn(
        "ni",
        F.when(
            F.col("start") > F.coalesce(prev_max_end, F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash over whitespace tokens: per bit, sign of Σ_token(±1) where the
    token's hash bit decides the sign. Explode + groupBy-sum: partial
    aggregation folds the per-token rows map-side, so the exchange carries
    (doc_id, ``bits`` ints) per doc per input partition — never one row per
    token. (A fully map-only HOF-``aggregate`` variant was measured 19%
    SLOWER despite its zero-exchange plan: higher-order-function lambdas are
    interpreted per element, while this shape's when/sum expressions stay in
    whole-stage codegen. Same finding as minhash_signatures.) No scan
    valve: the groupBy shuffles right after the tokenize, and at sf0.1 the
    valve made it slower."""
    toks = docs.select(
        "doc_id", F.explode(simple_tokens_col(F.lower("text"))).alias("t")
    )
    h = toks.withColumn("hv", portable_hash32(F.col("t")))
    contribs = h.select(
        "doc_id",
        *[
            (
                F.when(F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
                .alias(f"b{i}")
            )
            for i in range(bits)
        ],
    )
    sums = contribs.groupBy("doc_id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(bits)])
    packed = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
                for i in range(bits)
            ],
            F.lit(0),
        ).cast("bigint").alias("simhash"),
    )
    return packed


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """The end-to-end corpus-dedup shape: candidate PAIRS (from jaccard_pairs
    / minhash / embedding_near_dups) → connected components (large-star/
    small-star, O(log n) rounds) → ONE canonical keeper per cluster (highest
    ``quality_col``, ties → smallest id) → (doc_id, cluster_id, keep_id,
    dropped). At 100 TB this is the stage that turns pairwise similarity
    into an actual drop list; the CC rounds shuffle only the edge list and
    the keeper pick is a single max_by aggregate (no window over the corpus)."""
    from ..pipeline.canonicalize import connected_components

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(edges)  # (node, component)
    q = docs.select(
        F.col(id_col).cast("long").alias("node"),
        F.col(quality_col).cast("double").alias("q"),
    )
    # NOTE on a rejected "optimization": repartitioning withq by component
    # so the keeper aggregate and the final join share one ReusedExchange
    # does NOT work — column pruning gives the two branches different
    # schemas (the join side drops q), so the exchanges never canonicalize
    # equal, and the repartition only replaces the aggregate branch's
    # skew-safe partial-agg-before-exchange (one row per component per
    # partition) with shipping raw member rows. The double subtree below is
    # nearly free: both copies are column-pruned scans, and the extra
    # exchange carries two longs per clustered node.
    withq = comp.join(q, "node")
    keep = withq.groupBy("component").agg(
        F.max_by("node", F.struct(F.col("q"), -F.col("node"))).alias("keep_id")
    )
    return (
        withq.join(keep, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "keep_id",
            (F.col("node") != F.col("keep_id")).alias("dropped"),
        )
    )


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.95, n_bands: int = 8,
    band_size: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded random-projection LSH:
    ``n_bands`` independent bucket keys, each the sign bits of ``band_size``
    hash-derived hyperplanes (similarity.projection_buckets); candidate pairs
    share at least one (band, bucket); exact cosine rescore, dedup across
    bands. Similarity-aware blocking: a pair at cosine c collides per band
    with p = (1 - acos(c)/π)^band_size, so recall = 1-(1-p)^n_bands ≈ 1.0 at
    c ≥ 0.95 with the defaults (recall-tested vs brute force). At 100 TB the
    self-join is bucketed — no quadratic blowup, no similarity-blind blocks."""
    from .similarity import projection_buckets

    banded = emb
    for b in range(n_bands):
        banded = projection_buckets(
            banded, band_size, vec_col, salt_prefix=f"#b{b}p", out_col=f"_bk{b}"
        )
    keyed = banded.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"_bk{b}").alias("bucket"))
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(id_col, vec_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = keyed.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("ea"), "band", "bucket")
    b = keyed.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("eb"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # dedup multi-band collisions BEFORE the cosine so each surviving
        # pair is scored once; vectors ride the one dedup shuffle (cheaper
        # than re-joining the embedding table twice afterwards)
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("cos", F.round(cosine_similarity_col(F.col("ea"), F.col("eb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, k: int = 5,
) -> DataFrame:
    """Train/eval contamination check: flag every training document sharing
    at least one k-token shingle with the eval set. The eval side is tiny by
    construction (benchmarks), so its DISTINCT shingle set broadcasts and the
    scan over the 100 TB train side is map-only (broadcast left-semi join —
    no shuffle of train data); emits (doc_id, n_shared_shingles) for
    thresholded dropping or auditing."""
    tr = shingles(train, k)  # distinct per doc, map-only
    ev = shingles(eval_docs, k).select(F.col("shingle")).distinct()
    hits = tr.join(F.broadcast(ev), "shingle")
    # tr rows are already distinct per doc, so plain count == countDistinct
    # (and skips a per-group dedup in the aggregate)
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )
