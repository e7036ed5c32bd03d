"""Streaming MinHash near-dup candidates (streaming/dedup_stream.py).

Invariants pinned here:
  * stream ≡ batch — on a corpus where no bucket exceeds the cap, the
    distinct streamed candidate set equals minhash_lsh_candidates_md5'
    pair set for identical parameters (same signatures, same buckets:
    operators/dedup.py:band_buckets_md5 is shared verbatim);
  * state genuinely accumulates — cross-micro-batch pairs exist (a
    planted near-dup pair is split across two input files);
  * prefix cap — once a bucket holds max_bucket ids, later arrivals
    emit nothing and are not retained.
"""

import shutil
import tempfile
import uuid

import pytest

from rdf_to_text_spark.operators import dedup
from rdf_to_text_spark.streaming.dedup_stream import (
    _make_update,
    stream_minhash_candidates,
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


def _run_stream(spark, docs, n_files, **kwargs):
    work = tempfile.mkdtemp(prefix="dedup_stream_")
    qname = f"mh_{uuid.uuid4().hex[:8]}"
    try:
        docs.repartition(n_files, "doc_id").write.parquet(f"{work}/docs")
        q = stream_minhash_candidates(
            spark, f"{work}/docs", f"{work}/ckpt", query_name=qname, **kwargs
        )
        q.awaitTermination()
        # multi-batch accumulation is an INGEST-stage property; the
        # staged (unique_pairs) wrapper exposes stage-1 progress
        progress = getattr(q, "ingest_recent_progress", q.recentProgress)
        n_batches = sum(
            1 for p in progress if (p.get("numInputRows") or 0) > 0
        )
        rows = spark.sql(f"SELECT DISTINCT doc_a, doc_b FROM {qname}").collect()
        return {(r.doc_a, r.doc_b) for r in rows}, n_batches
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.catalog.dropTempView(qname)


def test_stream_equals_batch_and_accumulates(spark):
    texts = _corpus()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got, n_batches = _run_stream(spark, docs, n_files=4)
    assert n_batches >= 2  # multiple micro-batches actually ran
    batch = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates_md5(docs, num_perm=64, bands=16).collect()
    }
    assert got == batch
    assert len(got) >= 12  # every planted twin collides
    # twins are adjacent ids hashed into different files -> at least one
    # pair must have crossed micro-batch state
    assert any(abs(a - b) == 1 for a, b in got)


def test_prefix_cap_kernel():
    # 6 identical ids' arrivals into one bucket with cap 4: the first 4
    # form a clique (6 pairs), arrivals 5..6 emit nothing, state stays 4
    import pandas as pd

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self.val = v

        @property
        def get(self):
            return self.val

    update = _make_update(max_bucket=4)
    state = FakeState()
    out = list(update((0, 0), iter([pd.DataFrame({"doc_id": range(6)})]), state))
    pairs = {(a, b) for df in out for a, b in zip(df["doc_a"], df["doc_b"])}
    assert len(pairs) == 6  # C(4,2)
    assert max(max(p) for p in pairs) == 3
    assert list(state.get[0]) == [0, 1, 2, 3]
    # a later batch against the full bucket emits nothing and keeps state
    out2 = list(update((0, 0), iter([pd.DataFrame({"doc_id": [99]})]), state))
    assert out2 == []
    assert list(state.get[0]) == [0, 1, 2, 3]


def test_replayed_ids_are_idempotent():
    import pandas as pd

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self.val = v

        @property
        def get(self):
            return self.val

    update = _make_update(max_bucket=16)
    state = FakeState()
    list(update((0, 0), iter([pd.DataFrame({"doc_id": [1, 2]})]), state))
    # checkpoint-recovery replay of id 2 must not re-pair or duplicate
    out = list(update((0, 0), iter([pd.DataFrame({"doc_id": [2, 3]})]), state))
    pairs = {(a, b) for df in out for a, b in zip(df["doc_a"], df["doc_b"])}
    assert pairs == {(1, 3), (2, 3)}
    assert list(state.get[0]) == [1, 2, 3]


def test_stream_cap_bounds_degenerate_bucket(spark):
    # 10 byte-identical docs -> every band bucket is the same clique;
    # cap 4 bounds the streamed pairs to the first-arrival clique
    # (single file => sorted single-batch arrival makes it ids 0..3)
    docs = spark.createDataFrame(
        [(i, "same tokens here exactly") for i in range(10)],
        "doc_id long, text string",
    )
    got, _ = _run_stream(spark, docs, n_files=1, max_bucket=4)
    assert got == {(a, b) for a in range(4) for b in range(a + 1, 4)}


def test_unique_pairs_sink_emits_each_pair_once(spark):
    """EXACT duplicates collide in ALL 16 bands: without the
    dropDuplicates stage the bucket stage emits the pair once per band;
    with unique_pairs=True (default) the SINK — not a downstream
    consumer — must hold each pair exactly once, across bands AND
    micro-batches."""
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
    """unique_pairs=False exposes the raw bucket-stage behavior: an
    exact-dup pair colliding in k>1 bands appears k times — pinning
    that the default stage is doing real work."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    work = tempfile.mkdtemp(prefix="dedup_raw_")
    qname = f"raw_{uuid.uuid4().hex[:8]}"
    try:
        docs.coalesce(1).write.parquet(f"{work}/docs")
        q = stream_minhash_candidates(
            spark, f"{work}/docs", f"{work}/ckpt", query_name=qname,
            unique_pairs=False,
        )
        q.awaitTermination()
        raw = spark.sql(
            f"SELECT count(*) AS c FROM {qname} WHERE doc_a = 0 AND doc_b = 1"
        ).collect()[0].c
        # identical text -> identical signature -> all 16 bands collide
        assert raw == 16
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.catalog.dropTempView(qname)


def test_join_engine_equals_state_engine(spark):
    """r8 optimization: the engine-native stream-stream self-join
    bucket pairing must emit the same DISTINCT candidate set as the
    applyInPandasWithState stage (uncapped regime — the driver query's
    asserted precondition), while still crossing micro-batches."""
    texts = _corpus()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got_join, n_batches = _run_stream(spark, docs, n_files=4, engine="join")
    assert n_batches >= 2
    got_state, _ = _run_stream(spark, docs, n_files=4, engine="state")
    assert got_join == got_state
    assert any(abs(a - b) == 1 for a, b in got_join)  # cross-batch pairs
