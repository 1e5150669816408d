"""Streaming near-dup state (VERDICT r6 #6): stream ≡ batch parity.

The signatures are stateless map-only HOF arithmetic; the bucket-membership
accumulator is the stateful piece. Both are pinned against the batch
operators over the same corpus — the batch queries remain the DuckDB-oracle
surface, so these tests need no oracle of their own."""

from __future__ import annotations

import pandas as pd
import pytest

from x5_ner_spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_signatures,
)
from x5_ner_spark.streaming import stream_dedup


def _docs(spark, n=60):
    """Deterministic near-dup corpus: per base doc a token shuffle plus one
    planted partner differing in the last token (the bench fixture shape)."""
    import random

    rows = []
    vocab = [f"tok{i}" for i in range(40)]
    for i in range(n // 2):
        rng = random.Random(1000 + i)
        toks = [vocab[rng.randrange(len(vocab))] + f"s{i}" for t in range(12)]
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(toks[:-1] + ["ndmark"])))
    rows.append((n, "short"))  # < k tokens: must produce NO signature row
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    """The corpus written as MANY small parquet files so
    maxFilesPerTrigger=1 yields genuinely multiple micro-batches."""
    path = str(tmp_path_factory.mktemp("sdedup") / "docs")
    _docs(spark).repartition(6).write.mode("overwrite").parquet(path)
    return path


def test_stream_signatures_equal_batch(spark, corpus_path):
    batch_docs = spark.read.parquet(corpus_path)
    want = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in minhash_signatures(batch_docs).collect()
    }

    stream = spark.readStream.schema("doc_id long, text string").parquet(corpus_path)
    sig = stream_dedup.minhash_signatures_stream(stream)
    q = (
        sig.writeStream.format("memory").queryName("t_sig_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in spark.table("t_sig_stream").collect()
    }
    assert got == want and len(want) > 0
    # the <k-token doc produced no row on either side
    assert 60 not in got


def test_stream_candidate_pairs_accumulate_to_batch(spark, corpus_path):
    """Pairs emitted incrementally across micro-batches, each exactly once
    per (band,bucket) meeting — accumulated and deduped they equal the batch
    candidate set."""
    batch_docs = spark.read.parquet(corpus_path)
    want = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(batch_docs).collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(corpus_path)
    )
    pairs = stream_dedup.candidate_pairs_stream(stream)
    q = (
        pairs.writeStream.format("memory").queryName("t_pairs_stream")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.table("t_pairs_stream").collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == want and len(want) > 0
    assert all(a < b for a, b in got)
    # incremental-exactly-once: no (band,bucket) re-emits a pair, so any
    # duplicates in the raw output come only from multi-band collisions —
    # bounded by the band count
    from collections import Counter

    dupes = Counter((r["id_a"], r["id_b"]) for r in rows)
    assert max(dupes.values()) <= 4  # n_hashes=8 / band_size=2 bands


class FakeState:
    """Driver-side stand-in for GroupState: the update-fn unit tests below
    exercise cap, TTL re-arm, and eviction without a streaming query."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_durations: list[int] = []

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def setTimeoutDuration(self, ms):
        self.timeout_durations.append(ms)


def test_bucket_state_cap_bounds_membership():
    """A bucket past max_bucket stops storing AND pairing (the batch
    max_bucket analog): driver-side unit check of the update fn."""
    from x5_ner_spark.streaming.stream_dedup import _bucket_update_fn

    update = _bucket_update_fn(max_bucket=3)
    state = FakeState()
    out1 = list(update(("b", "x"), iter([pd.DataFrame({"doc_id": [1, 2]})]), state))
    out2 = list(
        update(("b", "x"), iter([pd.DataFrame({"doc_id": [3, 4, 5, 2]})]), state)
    )
    pairs = [
        (a, b)
        for df in out1 + out2
        for a, b in zip(df["id_a"], df["id_b"])
    ]
    # 1,2 paired; 3 paired with both; 4,5 hit the cap and neither stored
    # nor paired; the re-seen 2 is ignored
    assert pairs == [(1, 2), (1, 3), (2, 3)]
    assert list(state.get[0]) == [1, 2, 3]
    # no TTL configured: the idle timer is never armed
    assert state.timeout_durations == []


def test_bucket_state_ttl_arm_and_eviction():
    """state_ttl_ms: every arrival re-arms the idle timer; a timed-out
    invocation clears the bucket, and a later arrival re-seeds it from
    empty (pairs against evicted members are the documented recall trade)."""
    from x5_ner_spark.streaming.stream_dedup import _bucket_update_fn

    update = _bucket_update_fn(max_bucket=8, state_ttl_ms=60_000)
    state = FakeState()
    list(update(("b", "x"), iter([pd.DataFrame({"doc_id": [1, 2]})]), state))
    list(update(("b", "x"), iter([pd.DataFrame({"doc_id": [3]})]), state))
    assert state.timeout_durations == [60_000, 60_000]
    assert list(state.get[0]) == [1, 2, 3]

    state.hasTimedOut = True
    out = list(update(("b", "x"), iter([]), state))
    assert not state.exists  # evicted
    assert sum(len(df) for df in out) == 0

    state.hasTimedOut = False
    out2 = list(update(("b", "x"), iter([pd.DataFrame({"doc_id": [4, 1]})]), state))
    pairs = [
        (a, b) for df in out2 for a, b in zip(df["id_a"], df["id_b"])
    ]
    # re-seeded from empty: 1 and 4 pair with each other only — the
    # evicted members 2,3 are gone
    assert pairs == [(1, 4)]
    assert list(state.get[0]) == [1, 4]


def test_stream_pairs_with_ttl_wiring_equal_batch(spark, corpus_path):
    """ProcessingTimeTimeout wiring through a real query: with a TTL far
    above the run's wall time no bucket evicts, so parity with batch must
    hold exactly (the timeout plumbing — timeoutConf + setTimeoutDuration
    through a real GroupState — is what's under test).

    Trigger.Once, NOT availableNow: any ARMED processing-time timer keeps
    the availableNow wrapper scheduling zero-row batches forever (measured
    185 s silent awaitTermination timeout + a leaked active query). Once
    runs the single batch and stops; multi-batch TTL behavior is covered by
    the eviction test's three query lifecycles below."""
    batch_docs = spark.read.parquet(corpus_path)
    want = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(batch_docs).collect()
    }
    stream = spark.readStream.schema("doc_id long, text string").parquet(corpus_path)
    pairs = stream_dedup.candidate_pairs_stream(stream, state_ttl_ms=3_600_000)
    q = (
        pairs.writeStream.format("memory").queryName("t_pairs_ttl")
        .outputMode("update").trigger(once=True).start()
    )
    try:
        assert q.awaitTermination(180), "query did not terminate"
    finally:
        q.stop()
    got = {(r["id_a"], r["id_b"]) for r in spark.table("t_pairs_ttl").collect()}
    assert got == want and len(want) > 0


def test_stream_recovery_from_checkpoint_equals_batch(spark, tmp_path):
    """VERDICT r7 #3a: kill the stream mid-corpus and restart from the
    checkpoint — the state store must reload the bucket membership, so the
    accumulated pair set equals the uninterrupted (batch) run. foreachBatch
    parquet sink; both runs share one checkpointLocation."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = _docs(spark)
    # evens first, odds after the restart: every planted near-dup pair is
    # (2i, 2i+1), so EVERY true pair straddles the kill point — pairing the
    # second half correctly is impossible without recovered bucket state
    docs.filter("doc_id % 2 = 0").repartition(3).write.mode("append").parquet(src)

    def run_to_idle():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pairs = stream_dedup.candidate_pairs_stream(stream)

        def sink(df, _epoch):
            df.write.mode("append").parquet(out)

        q = (
            pairs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_to_idle()  # first half of the corpus, then the query stops
    mid = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()
    }
    # second half arrives while the stream is DOWN; restart from checkpoint
    docs.filter("doc_id % 2 = 1").repartition(3).write.mode("append").parquet(src)
    run_to_idle()

    want = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(docs).collect()
    }
    got = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()}
    assert got == want and len(want) > 0
    # the restart genuinely continued (cross-half pairs appeared after it):
    # recovery added pairs the first run could not have seen
    assert mid < got


def test_stream_rescored_edges_equal_batch(spark, corpus_path):
    """Full incremental edge stream: candidates from the stateful
    accumulator, exact-rescored via a stream-static join against the corpus
    shingle sets — accumulated edges equal the batch
    candidate→jaccard_rescore composition (values included)."""
    from x5_ner_spark.operators.dedup import jaccard_rescore

    batch_docs = spark.read.parquet(corpus_path)
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_rescore(
            batch_docs, minhash_candidate_pairs(batch_docs), k=3, threshold=0.5
        ).collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(corpus_path)
    )
    edges = stream_dedup.near_dup_edges_stream(stream, batch_docs)
    q = (
        edges.writeStream.format("memory").queryName("t_edges_stream")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.table("t_edges_stream").collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert got == want and len(want) > 0
    # multi-band duplicate emissions are trimmed BEFORE the rescore join
    # (watermark-bounded dedup, VERDICT r7 nit 2): exactly one row per edge
    from collections import Counter

    dupes = Counter((r["id_a"], r["id_b"]) for r in rows)
    assert max(dupes.values()) == 1


def test_edges_stream_unmatched_triage(spark, corpus_path):
    """ADVICE r7: a streamed doc absent from the static snapshot cannot be
    rescored. Default 'drop' discards its pairs silently (the documented
    snapshot-covers-stream contract); 'null' routes them to the output with
    jaccard IS NULL as the snapshot-lag triage signal."""
    batch_docs = spark.read.parquet(corpus_path)
    # snapshot missing doc 1 — the planted partner of doc 0, so the (0, 1)
    # candidate pair is guaranteed and cannot be rescored
    snapshot = batch_docs.filter("doc_id != 1")

    def run(unmatched, name):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 2)
            .parquet(corpus_path)
        )
        edges = stream_dedup.near_dup_edges_stream(
            stream, snapshot, unmatched=unmatched
        )
        q = (
            edges.writeStream.format("memory").queryName(name)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        return spark.table(name).collect()

    dropped = run("drop", "t_triage_drop")
    assert all(r["jaccard"] is not None for r in dropped)
    assert (0, 1) not in {(r["id_a"], r["id_b"]) for r in dropped}

    routed = run("null", "t_triage_null")
    null_pairs = {
        (r["id_a"], r["id_b"]) for r in routed if r["jaccard"] is None
    }
    assert (0, 1) in null_pairs  # the un-rescorable pair is surfaced
    # scored rows are identical to the drop run
    assert {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in routed if r["jaccard"] is not None
    } == {(r["id_a"], r["id_b"], r["jaccard"]) for r in dropped}

    with pytest.raises(ValueError):
        stream_dedup.near_dup_edges_stream(
            spark.readStream.schema("doc_id long, text string").parquet(corpus_path),
            snapshot,
            unmatched="bogus",
        )


def test_stream_ttl_eviction_end_to_end(spark, tmp_path):
    """state_ttl_ms recall trade demonstrated for real (not just the
    update-fn unit): evens stream in and arm 1s idle timers; after the TTL
    elapses a filler-only batch fires the expired timers (Spark times out
    only groups with no data in the batch — the filler touches different
    buckets), evicting every even bucket; the odds then re-seed empty
    buckets, so the cross-half planted pairs are MISSED — precisely the
    documented trade, the inverse of the TTL-less recovery test where all
    planted pairs survive the same kill points."""
    import time as _time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = _docs(spark)

    def run_to_idle():
        # Trigger.Once, NOT availableNow: with ProcessingTimeTimeout state,
        # availableNow keeps scheduling zero-row batches indefinitely once
        # a timer has expired (measured: ~85 batches/min, query never
        # terminates). Once runs exactly one batch — expired timers fire IN
        # that batch alongside its data, which is precisely the eviction
        # semantics under test — then stops. The three runs isolate
        # evens / filler / odds into three batches.
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        pairs = stream_dedup.candidate_pairs_stream(stream, state_ttl_ms=1000)

        def sink(df, _epoch):
            df.write.mode("append").parquet(out)

        q = (
            pairs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(once=True)
            .start()
        )
        assert q.awaitTermination(180), "query did not terminate"

    docs.filter("doc_id % 2 = 0").repartition(3).write.mode("append").parquet(src)
    run_to_idle()
    _time.sleep(2.5)  # let every bucket's 1s idle timer expire while down

    filler = spark.createDataFrame(
        [(10_000 + i, f"fillA{i} fillB{i} fillC{i} fillD{i}") for i in range(6)],
        "doc_id long, text string",
    )
    filler.repartition(2).write.mode("append").parquet(src)
    run_to_idle()  # filler batches fire the expired timers -> eviction

    docs.filter("doc_id % 2 = 1").repartition(3).write.mode("append").parquet(src)
    run_to_idle()

    got = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(30)}
    # every planted pair straddles the eviction: all missed
    assert not (got & planted), sorted(got & planted)[:5]
    # sanity: the stream did produce within-half candidate pairs (chance
    # bucket collisions inside each half), so "missed" is eviction, not a
    # dead stream — and with no TTL the identical kill pattern recovers
    # every planted pair (test_stream_recovery_from_checkpoint_equals_batch)
    from x5_ner_spark.operators.dedup import minhash_candidate_pairs

    want_all = {
        (r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(docs).collect()
    }
    assert planted <= want_all  # the batch path would have found them
    assert got <= want_all | {(a, b) for a in range(10_000, 10_006)
                              for b in range(10_000, 10_006)}
