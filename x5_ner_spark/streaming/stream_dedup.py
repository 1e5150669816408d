"""Streaming near-dup state (§2.13, VERDICT r6 #6): incremental MinHash-LSH.

The batch dedup path (operators/dedup.py) is a job; a crawl is a stream.
This module re-expresses its two halves for Structured Streaming:

- **Signatures are stateless**: a doc's MinHash signature is a pure function
  of its own shingles, so the streaming variant computes it MAP-ONLY with
  higher-order functions (array_min over the affine permutations of the
  doc's own shingle hashes) — no aggregate, no watermark, no state; values
  are IDENTICAL to batch ``minhash_signatures`` (pytest parity). The batch
  path deliberately uses a codegen'd partial aggregate instead (HOF lambdas
  are interpreted — measured ~2× slower per row), but an open groupBy on a
  stream would need state for what is per-row arithmetic; stateless wins
  here.
- **Bucket membership is the stateful piece**: ``applyInPandasWithState``
  keyed by (band, bucket) accumulates each LSH bucket's doc_ids across
  micro-batches and emits every NEW candidate pair exactly once as it forms
  — the incremental analog of ``minhash_candidate_pairs`` (parity:
  accumulated stream pairs == batch pairs over the same corpus).

State is bounded by ``max_bucket``: a bucket that exceeds it stops BOTH
storing new members and emitting their pairs — the streaming analog of the
batch ``max_bucket`` hub-skew valve (a boilerplate bucket would otherwise
grow its state and its per-arrival pair fan-out without bound). Below the
cap the operator is exact (parity-tested ≡ batch).

**Above-cap semantics DIVERGE from batch, by construction**: the batch
valve drops an over-full bucket's keyed rows BEFORE the self-join, so NONE
of that bucket's pairs are emitted; the stream has already emitted the
pairs among the first ``max_bucket`` arrivals by the time the cap is known,
and an append-only stream cannot retract them. Above the cap the stream's
emitted set therefore depends on arrival order (source reordering/retries
move which docs land "first"). This is accepted and documented
(COVERAGE.md): both sides bound the quadratic term identically; they differ
only in WHICH ≤ max_bucket² pairs of a non-discriminative hub bucket
survive — pairs downstream exact-rescore discards are the usual case.

The NUMBER of (band, bucket) state keys grows with the corpus (each key is
O(max_bucket) ids). For a bounded run that is the point — state IS the
bucket index. For a perpetual crawl, pass ``state_ttl_ms``: buckets idle
longer than the TTL are evicted (ProcessingTimeTimeout), trading recall
for bounded state — a pair whose two docs arrive more than the TTL apart
in a bucket no other band catches is missed. Sizing analysis: SCALE.md
§streaming-dedup-state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.columns import portable_hash32, simple_tokens_col
from ..operators.dedup import MH_PRIME, _band_structs, _sh_expr, minhash_coeffs

PAIR_SCHEMA = "id_a long, id_b long"
BUCKET_STATE_SCHEMA = "ids array<long>"


def minhash_signatures_stream(
    docs: DataFrame, k: int = 3, n_hashes: int = 8
) -> DataFrame:
    """(doc_id, text) stream → (doc_id, mh0..mh{n-1}) stream, map-only.
    Same shingling base, hash family, and coefficients as the batch
    aggregate — the signature values agree row-for-row. The shingle-hash
    array is bound ONCE as a lambda variable (one-element-array trick, see
    dedup._sized_shingles) so the md5s are not re-evaluated per hash
    function."""
    hs_expr = F.transform(
        F.array_distinct(_sh_expr(k)), lambda s: portable_hash32(s)
    )
    coeffs = minhash_coeffs(n_hashes)

    def _perm(a: int, b: int):
        # bind (a, b) via a closure factory: pyspark derives HOF arity from
        # the python signature, so default-arg binding (lambda x, a=a, b=b)
        # reads as a 3-arg lambda and fails analysis, and a bare loop
        # variable would late-bind (the candidates._minhash_cols lesson)
        return lambda x: F.pmod(x * F.lit(a) + F.lit(b), F.lit(MH_PRIME))

    bound = F.element_at(
        F.transform(
            F.array(hs_expr),
            lambda hs: F.struct(
                *[
                    F.array_min(F.transform(hs, _perm(a, b))).alias(f"mh{i}")
                    for i, (a, b) in enumerate(coeffs)
                ]
            ),
        ),
        1,
    )
    # same eligibility rule as batch _with_tokens: ≥ k tokens or no row
    toks = simple_tokens_col("text")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= k)
        .select("doc_id", bound.alias("s"))
        .select("doc_id", "s.*")
    )


def _bucket_update_fn(max_bucket: int, state_ttl_ms: int | None = None):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL eviction: the bucket went idle past state_ttl_ms — drop
            # its membership list. A future arrival re-seeds an empty bucket
            # (pairs against evicted members are missed; the recall trade
            # the knob documents).
            state.remove()
            yield pd.DataFrame({"id_a": [], "id_b": []})
            return
        ids: list[int] = list(state.get[0]) if state.exists else []
        known = set(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        new_ids = sorted(
            {int(i) for pdf in pdfs for i in pdf["doc_id"]} - known
        )
        for nid in new_ids:
            if len(ids) >= max_bucket:
                break  # capped bucket: stop pairing AND storing (see module doc)
            for old in ids:
                a, b = (old, nid) if old < nid else (nid, old)
                out_a.append(a)
                out_b.append(b)
            ids.append(nid)
            known.add(nid)
        state.update((ids,))
        if state_ttl_ms is not None:
            # processing-time idle timer, re-armed on every arrival
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return update


def candidate_pairs_stream(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 64,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """(doc_id, text) stream → LSH candidate-pair stream: each (id_a, id_b)
    with id_a < id_b is emitted the first time the two docs meet in a
    (band, bucket) — across micro-batches, via bucket-membership state. A
    pair sharing several bands is emitted once per such band (the batch
    path's ``.distinct()``); :func:`near_dup_edges_stream` trims those with
    a watermark-bounded stateless dedup before rescoring, and downstream
    CC consumes edges idempotently anyway.

    ``state_ttl_ms``: optional idle-bucket eviction (ProcessingTimeTimeout,
    re-armed per arrival). None = buckets live forever — exact for bounded
    runs, unbounded KEY growth on a perpetual crawl (each key holds
    ≤ max_bucket ids; see SCALE.md §streaming-dedup-state for sizing).
    With a TTL, a pair whose two docs arrive more than the TTL apart in a
    bucket no other band catches is missed — the recall trade for bounded
    state. State recovery from a checkpoint is parity-tested
    (tests/test_stream_dedup.py: killed-and-restarted ≡ uninterrupted).

    TRIGGER CAVEAT (measured on Spark 4.1): with a TTL set, do NOT run
    under ``Trigger.AvailableNow`` — any armed processing-time timer keeps
    the wrapper scheduling zero-row batches indefinitely and the query
    never terminates (~85 empty batches/min observed). Bounded backfills
    with a TTL should use ``Trigger.Once`` per drain (expired timers fire
    within that batch, alongside its data) or a continuous processing-time
    trigger; TTL-less runs terminate normally under AvailableNow."""
    sig = minhash_signatures_stream(docs, k, n_hashes)
    keyed = sig.select(
        "doc_id", F.explode(_band_structs(n_hashes, band_size)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("band", "bucket").applyInPandasWithState(
        _bucket_update_fn(max_bucket, state_ttl_ms),
        outputStructType=PAIR_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def near_dup_edges_stream(
    docs: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 64,
    state_ttl_ms: int | None = None,
    unmatched: str = "drop",
    dedup_watermark: str = "10 seconds",
) -> DataFrame:
    """The full incremental near-dup EDGE stream: candidate pairs from the
    stateful bucket accumulator, exact-Jaccard rescored by a STREAM-STATIC
    join against the (batch) corpus's per-doc shingle sets — the same
    arrays and rounding as the batch ``jaccard_rescore``, so surviving
    edges are true near-dups (no false positives), emitted as they form.

    Multi-band duplicate emissions (a pair colliding in several bands lands
    k× in the candidate stream, always within ONE micro-batch — the pair
    forms when its later doc arrives) are trimmed BEFORE the rescore join
    by ``dropDuplicatesWithinWatermark`` on a processing-time stamp: state
    there is bounded by ``dedup_watermark`` (≈ one micro-batch), unlike a
    plain streaming ``dropDuplicates`` whose key state grows forever. On
    boilerplate-heavy corpora this cuts the k× redundant rescores
    (VERDICT r7 nit 2).

    CONTRACT: ``corpus`` is the static snapshot the stream is drawn from
    and must COVER every streamed doc_id — a pair touching a doc absent
    from the snapshot cannot be rescored. Default ``unmatched='drop'``
    silently discards such pairs (inner-join semantics, correct when the
    contract holds); pass ``unmatched='null'`` to route them to the output
    with ``jaccard IS NULL`` instead — the triage signal for
    snapshot-lag monitoring. At production scale the static side is the
    growing Iceberg table — each micro-batch rescores only its few
    candidate pairs against two doc_id-keyed lookups."""
    if unmatched not in ("drop", "null"):
        raise ValueError(f"unmatched must be 'drop' or 'null', got {unmatched!r}")
    from ..operators.dedup import _hashed_shingle_sets

    pairs = candidate_pairs_stream(
        docs, k, n_hashes, band_size, max_bucket, state_ttl_ms
    )
    pairs = (
        pairs.withColumn("ts", F.current_timestamp())
        .withWatermark("ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["id_a", "id_b"])
        .drop("ts")
    )
    sh = _hashed_shingle_sets(corpus, k)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        pairs.join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            # explicit null on a missing side: size(null) is -1 under the
            # legacy conf, which would otherwise fabricate a negative score
            F.when(
                F.col("sh_a").isNull() | F.col("sh_b").isNull(), F.lit(None)
            ).otherwise(
                F.round(
                    F.col("n_inter")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                    4,
                )
            ),
        )
    )
    keep = F.col("jaccard") >= threshold
    if unmatched == "null":
        keep = keep | F.col("jaccard").isNull()
    return scored.filter(keep).select("id_a", "id_b", "jaccard")
