"""Streaming MinHash+LSH near-duplicate candidates.

The batch dedup ladder (operators/dedup.py) answers "which documents in
this corpus are near-dups". A training-data pipeline also needs the
INCREMENTAL form: documents arrive in crawl batches, and each new
document must be checked against everything already ingested without
recomputing history. This module lifts the ladder's candidate rung to
Structured Streaming:

  * signature + banding are the batch operators VERBATIM —
    ``minhash_signatures_md5`` is a narrow Arrow-batched map and
    ``band_buckets_md5`` a narrow projection, so both run unchanged on a
    streaming DataFrame (the same lift as the flagship's
    streaming/extract_stream.py) and the streamed candidate set uses
    the batch rung's SQL-replayable md5 hash family;
  * the bucket self-join becomes ONE stateful operator:
    ``applyInPandasWithState`` keyed by (band, bucket), whose state is
    the ids already seen in that bucket. Each arriving id emits a
    candidate pair against every retained prior id, then joins the
    state. Within a micro-batch, ids are processed in sorted order so
    replay is deterministic.

Cap semantics, stated plainly: the batch rung drops over-``max_bucket``
buckets ENTIRELY (it sees final bucket sizes); a stream cannot know a
bucket's final size, so this operator uses the PREFIX cap — once a
bucket's state holds ``max_bucket`` ids, later arrivals emit nothing
and are not retained. On corpora where no bucket exceeds the cap the
two are provably identical (the stream≡batch test pins this); on
degenerate buckets the stream keeps the first-arrival clique where the
batch keeps nothing — both bound the bucket's pair volume at
O(max_bucket²).

Duplicate emissions: a pair colliding in several bands is emitted once
PER BAND by the bucket stage; the batch rung dedups pairs globally. By
default (``unique_pairs=True``) a second stateful stage — Spark's
streaming ``dropDuplicates`` on (doc_a, doc_b), the engine-native
keyed-state operator — restores the batch contract: each pair reaches
the sink EXACTLY ONCE across all bands and micro-batches (a sink that
bills per candidate can consume the stream directly). Its state is one
entry per distinct emitted pair, bounded by the bucket stage's pair
volume (O(#buckets · max_bucket²) worst case — same order as the
candidate set itself) and kept without timeout, the right call for a
dedup whose whole point is remembering history. Pass
``unique_pairs=False`` to observe raw per-band emissions (the
stream≡batch invariant test compares DISTINCT sets either way).

Scale shape: state per (band, bucket) key is ≤ max_bucket longs — the
engine checkpoints O(#non-singleton buckets · max_bucket) ids total,
partitioned by the bucket key (uniform by construction: md5
buckets). No shuffle other than the stateful exchange on the bucket
key, which is exactly the batch join's shuffle key.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

PAIRS_SCHEMA = StructType(
    [
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("ids", ArrayType(LongType()))])



def _make_update(max_bucket: int):
    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids = list(state.get[0]) if state.exists else []
        incoming: list = []
        for pdf in pdfs:
            incoming.extend(int(v) for v in pdf["doc_id"])
        incoming.sort()
        out_a: list = []
        out_b: list = []
        seen = set(ids)
        for new_id in incoming:
            if new_id in seen:
                continue  # replayed file after checkpoint recovery
            if len(ids) >= max_bucket:
                break  # prefix cap: bucket full, later arrivals dropped
            for prior in ids:
                lo, hi = (prior, new_id) if prior < new_id else (new_id, prior)
                out_a.append(lo)
                out_b.append(hi)
            ids.append(new_id)
            seen.add(new_id)
        state.update((ids,))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    return update


def streaming_minhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 128,
    engine: str = "state",
) -> DataFrame:
    """Streaming documents → (doc_a, doc_b) candidate pairs (append),
    emitted once PER BAND (raw bucket-stage output — see the module
    docstring; the global once-per-pair form is the staged pipeline in
    :func:`stream_minhash_candidates`, because Spark permits only one
    ``applyInPandasWithState`` per streaming query and its columnar
    output cannot feed the built-in dropDuplicates state operator).

    Same parameters, same signatures, same buckets as the batch
    ``minhash_lsh_candidates_md5`` (``minhash_signatures_md5`` and
    ``band_buckets_md5``, so a DuckDB oracle can replay the streamed
    candidate set exactly) — only the bucket self-join is replaced by
    the incremental stateful emit described in the module docstring.
    """
    from ..operators.dedup import band_buckets_md5, minhash_signatures_md5

    sigs = minhash_signatures_md5(docs, text_col, id_col, num_perm, shingle_k)
    banded = band_buckets_md5(sigs, bands, num_perm // bands, id_col)
    if id_col != "doc_id":
        banded = banded.withColumnRenamed(id_col, "doc_id")
    if engine == "join":
        # Engine-native incremental bucket pairing: a stream-stream
        # INNER self-join on the bucket key (no watermark — dedup
        # history is the product, exactly the NoTimeout state above).
        # Spark's symmetric hash join retains each side's rows in the
        # keyed state store and emits (new-left × right-state ∪ new,
        # new-right × left-state), so every qualifying unordered pair
        # is emitted exactly once per band it collides in — the same
        # per-band emission contract as the Python bucket stage, with
        # ZERO per-group Python: the r7 stateful stage paid ~1 ms of
        # pandas/group overhead across ~16 bucket groups PER DOCUMENT
        # (guide §4), which dominated the whole streamed run at 50k
        # docs. No prefix cap in this mode: use it when an upstream
        # exact-dup rung bounds bucket sizes (the driver query asserts
        # post-hoc that no bucket exceeded the cap, where the two
        # engines are provably identical); keep engine="state" for
        # adversarial-density corpora that need the cap enforced
        # in-stream.
        x = banded.select(
            F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_a")
        )
        y = banded.select(
            F.col("band").alias("_band_r"),
            F.col("bucket").alias("_bucket_r"),
            F.col("doc_id").alias("doc_b"),
        )
        return x.join(
            y,
            (F.col("band") == F.col("_band_r"))
            & (F.col("bucket") == F.col("_bucket_r"))
            & (F.col("doc_a") < F.col("doc_b")),
        ).select("doc_a", "doc_b")
    if engine != "state":
        raise ValueError(f"engine must be 'state' or 'join' (got {engine!r})")
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _make_update(max_bucket),
        PAIRS_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_minhash_candidates(
    spark,
    docs_dir: str,
    checkpoint_dir: str,
    schema=None,
    query_name: str = "minhash_candidates",
    max_files_per_trigger: int = 1,
    unique_pairs: bool = True,
    stage2_max_files: int | None = None,
    **kwargs,
):
    """File-stream parquet documents → streaming candidates → memory
    sink (append). ``max_files_per_trigger=1`` forces one micro-batch
    per file so bucket state genuinely accumulates across batches.

    ``unique_pairs`` (default): the raw per-band pairs are staged
    through an exactly-once parquet handoff (``<checkpoint_dir>_raw``;
    the downstream file source honors the sink's _spark_metadata commit
    log, so only committed batches are read) and a SECOND streaming
    query applies the engine-native ``dropDuplicates`` state operator —
    the sink then holds each candidate pair EXACTLY ONCE across bands
    and micro-batches, matching the batch rung's global-dedup contract.
    Staging is forced by two Spark limits (one applyInPandasWithState
    per query; its columnar output cannot feed the dropDuplicates state
    store), but it is also the normal production shape: raw candidates
    are a bronze table a crawl pipeline wants durable anyway. In this
    availableNow harness the stages run sequentially; a continuous
    deployment runs both queries concurrently (stage 2 tails stage 1's
    sink). dropDuplicates state: one entry per distinct pair, no
    watermark — dedup history is the product. ``stage2_max_files``
    throttles the dedup stage's file source (None = all committed raw
    files per trigger — the harness default; tests pass 1 to force the
    dedup state itself across micro-batches). The returned (stage-2)
    query carries ``ingest_recent_progress`` — stage 1's progress
    events — so callers can assert multi-batch INGEST behavior
    regardless of stage-2 batching.
    """
    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    pairs = streaming_minhash_candidates(docs, **kwargs)
    if not unique_pairs:
        return (
            pairs.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    raw_dir = f"{checkpoint_dir}_raw"
    q1 = (
        pairs.writeStream.format("parquet")
        .option("path", f"{raw_dir}/data")
        .option("checkpointLocation", f"{raw_dir}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()
    raw = spark.readStream.schema(PAIRS_SCHEMA)
    if stage2_max_files is not None:
        raw = raw.option("maxFilesPerTrigger", stage2_max_files)
    q2 = (
        raw.parquet(f"{raw_dir}/data")
        .dropDuplicates(["doc_a", "doc_b"])
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q2.ingest_recent_progress = q1.recentProgress
    return q2
