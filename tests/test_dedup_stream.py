"""Streaming MinHash near-dup candidates (streaming/dedup_stream.py).

Invariants pinned here:
  * stream ≡ batch — on a corpus where no bucket exceeds the cap, the
    streamed candidate set equals minhash_lsh_candidates_md5' pair set
    for identical parameters (same signatures, same buckets:
    operators/dedup.py:band_bucket_vector is shared verbatim);
  * exactly once — the first-band rule emits each colliding pair once
    across bands and micro-batches, so the sink holds no duplicate row;
  * state genuinely accumulates — cross-micro-batch pairs exist (a
    planted near-dup pair is split across two input files), and a
    restart from the checkpoint emits only the new pairs;
  * the cap is a checked precondition — check_bucket_cap rejects an
    output whose candidate degree allows an over-cap bucket.
"""

import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdf_to_text_spark.operators import dedup
from rdf_to_text_spark.streaming.dedup_stream import (
    check_bucket_cap,
    stream_minhash_candidates,
    streaming_minhash_candidates,
)


def _corpus():
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = []
    for i in range(12):
        a = base.replace("today", f"w{i} end marker token")
        b = a.replace("quick", "swift")  # near-dup twin of a
        texts.append(a)
        texts.append(b)
    texts.append("completely unrelated text about spark shuffle partitions and arrow")
    return texts


def _batch_pairs(docs):
    return {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates_md5(docs, num_perm=64, bands=16).collect()
    }


def _run_stream(spark, docs, n_files):
    """Streams `docs` written as `n_files` files; returns the sink's
    pair set (after asserting it holds no duplicate row) and the number
    of non-empty micro-batches."""
    work = tempfile.mkdtemp(prefix="dedup_stream_")
    qname = f"mh_{uuid.uuid4().hex[:8]}"
    try:
        docs.repartition(n_files, "doc_id").write.parquet(f"{work}/docs")
        q = stream_minhash_candidates(
            spark, f"{work}/docs", f"{work}/ckpt", query_name=qname
        )
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0
        )
        rows = [(r.doc_a, r.doc_b) for r in spark.table(qname).collect()]
        assert len(rows) == len(set(rows)), "sink holds a pair more than once"
        return set(rows), n_batches
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.catalog.dropTempView(qname)


def test_stream_equals_batch_and_accumulates(spark):
    texts = _corpus()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got, n_batches = _run_stream(spark, docs, n_files=4)
    assert n_batches >= 2  # multiple micro-batches actually ran
    assert got == _batch_pairs(docs)
    assert len(got) >= 12  # every planted twin collides
    # twins are adjacent ids hashed into different files -> at least one
    # pair must have crossed micro-batch state
    assert any(abs(a - b) == 1 for a, b in got)


def test_prefix_cap_kernel():
    """Re-pointed from the deleted Python bucket engine's prefix cap to
    the check that replaces it: check_bucket_cap raises on a clique of
    max_bucket + 1 docs (every doc has degree max_bucket) and passes on
    a clique of max_bucket. pandas only, no Spark."""

    def clique(n):
        return pd.DataFrame(
            [(a, b) for a in range(n) for b in range(a + 1, n)],
            columns=["doc_a", "doc_b"],
        )

    with pytest.raises(RuntimeError, match="candidate degree 4"):
        check_bucket_cap(clique(5), max_bucket=4)
    assert check_bucket_cap(clique(4), max_bucket=4) == 3
    assert check_bucket_cap(clique(0), max_bucket=4) == 0


def test_replayed_ids_are_idempotent(spark):
    """Re-pointed from the deleted engine's replayed-id skip to the join
    state's restart contract: a restart from the checkpoint over one
    added file, into a parquet sink, emits only the new pairs — the
    second run's rows are exactly batch(all) minus batch(first files),
    and the sink holds the batch set with no duplicate row."""
    texts = _corpus()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    added = F.col("doc_id").isin(1, 3, 5)  # twins of docs 0, 2 and 4
    work = tempfile.mkdtemp(prefix="dedup_restart_")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/docs")
        )
        q = (
            streaming_minhash_candidates(stream)
            .writeStream.format("parquet")
            .option("path", f"{work}/pairs")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [(r.doc_a, r.doc_b) for r in spark.read.parquet(f"{work}/pairs").collect()]

    try:
        docs.filter(~added).repartition(3, "doc_id").write.parquet(f"{work}/docs")
        first = run()
        assert set(first) == _batch_pairs(docs.filter(~added))
        docs.filter(added).coalesce(1).write.mode("append").parquet(f"{work}/docs")
        both = run()
        assert len(both) == len(set(both))
        assert set(both) == _batch_pairs(docs)
        new = set(both) - set(first)
        assert len(both) - len(first) == len(new)
        assert {(0, 1), (2, 3), (4, 5)} <= new
        assert all(a in (1, 3, 5) or b in (1, 3, 5) for a, b in new)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stream_cap_bounds_degenerate_bucket(spark):
    """Re-pointed from the deleted in-stream prefix cap: the stream
    pairs a degenerate bucket in full — 10 byte-identical docs give all
    45 pairs, each exactly once although they share all 16 bands — and
    check_bucket_cap rejects that output at max_bucket=4."""
    docs = spark.createDataFrame(
        [(i, "same tokens here exactly") for i in range(10)],
        "doc_id long, text string",
    )
    got, _ = _run_stream(spark, docs, n_files=1)
    assert got == {(a, b) for a in range(10) for b in range(a + 1, 10)}
    pairs = pd.DataFrame(sorted(got), columns=["doc_a", "doc_b"])
    with pytest.raises(RuntimeError):
        check_bucket_cap(pairs, max_bucket=4)
    assert check_bucket_cap(pairs, max_bucket=10) == 9


def test_unique_pairs_sink_emits_each_pair_once(spark):
    """EXACT duplicates collide in ALL 16 bands; the first-band rule
    must still put each pair in the SINK — not a downstream consumer —
    exactly once, across bands AND micro-batches."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "totally different words about arrow batches and shuffle io"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    work = tempfile.mkdtemp(prefix="dedup_uni_")
    qname = f"uniq_{uuid.uuid4().hex[:8]}"
    try:
        # ids 0 and 1 in SEPARATE files so the pair forms across batches
        docs.repartition(2, "doc_id").write.parquet(f"{work}/docs")
        q = stream_minhash_candidates(
            spark, f"{work}/docs", f"{work}/ckpt", query_name=qname
        )
        q.awaitTermination()
        raw = spark.sql(f"SELECT doc_a, doc_b FROM {qname}").collect()
        counts = {}
        for r in raw:
            counts[(r.doc_a, r.doc_b)] = counts.get((r.doc_a, r.doc_b), 0) + 1
        assert counts.get((0, 1)) == 1, counts
        assert all(c == 1 for c in counts.values()), counts
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.catalog.dropTempView(qname)


def test_per_band_emissions_observable_without_unique(spark):
    """Re-pointed from the deleted per-band (unique_pairs=False) output
    to the first-band rule's effect: two identical docs collide in all
    16 bands of the batch band_buckets_md5, and the stream's sink holds
    the pair exactly once."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    banded = dedup.band_buckets_md5(dedup.minhash_signatures_md5(docs), 16, 4)
    n_shared = banded.groupBy("band", "bucket").count().filter("count = 2").count()
    assert n_shared == 16
    got, _ = _run_stream(spark, docs, n_files=1)
    assert got == {(0, 1)}


def test_join_engine_equals_state_engine(spark):
    """Re-pointed from the deleted engine comparison to the first-band
    rule's prefix slice: on _corpus() at least one emitted pair first
    collides in a band > 0 (so an off-by-one in `pre` would drop or
    repeat it), and the stream still equals batch across micro-batches."""
    texts = _corpus()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got, n_batches = _run_stream(spark, docs, n_files=4)
    assert n_batches >= 2
    assert got == _batch_pairs(docs)
    buckets = {}
    for r in dedup.band_buckets_md5(dedup.minhash_signatures_md5(docs), 16, 4).collect():
        buckets.setdefault(r.doc_id, {})[r.band] = r.bucket
    first_band = {
        (a, b): min(i for i in range(16) if buckets[a][i] == buckets[b][i])
        for a, b in got
    }
    assert any(band > 0 for band in first_band.values()), first_band
