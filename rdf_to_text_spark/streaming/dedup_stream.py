"""Streaming MinHash+LSH near-duplicate candidates.

The batch dedup ladder (operators/dedup.py) answers "which documents in
this corpus are near-dups". A training-data pipeline also needs the
INCREMENTAL form: documents arrive in crawl batches, and each new
document must be checked against everything already ingested without
recomputing history. This module lifts the ladder's candidate rung to
Structured Streaming as ONE query:

  * signatures and buckets are the batch definitions verbatim —
    ``minhash_signatures_md5`` is a narrow Arrow-batched map and
    ``band_bucket_vector`` a narrow projection, so both run unchanged
    on a streaming DataFrame and the streamed candidate set uses the
    batch rung's SQL-replayable md5 hash family;
  * the bucket self-join is a stream-stream inner self-join on
    (band, bucket), with no watermark (dedup history is the product):
    Spark's symmetric hash join keeps every banded row in its keyed
    state store and emits each matching row pair exactly once across
    micro-batches, with no per-group Python.

First-band rule. A pair colliding in k bands would match k times. Each
banded row therefore also carries ``pre``: the doc's buckets of the
bands BEFORE its own, and the join emits a pair only
when no earlier band agrees — i.e. only in the first band the two docs
share. So every colliding pair reaches the sink EXACTLY ONCE across
bands and micro-batches, from one query and one state operator.

No in-stream cap. The batch rung drops buckets over ``max_bucket``
before its join; a stream cannot know a bucket's final size, so it
pairs every bucket in full. The cap is instead a checked precondition
on the output, :func:`check_bucket_cap`: a bucket of n docs puts all
C(n, 2) of its pairs in the output (each is emitted at its first common
band), so a max candidate degree ≤ ``max_bucket - 1`` proves no bucket
exceeded the cap and stream ≡ batch. The check can reject a corpus
whose high degree comes from many small buckets; it never passes one
with an over-cap bucket. Caveat, and the reason the cap is checked
rather than applied: the first-band rule ties each pair to its first
common bucket, so a pair whose first common bucket is over the cap
would not be reported at all if the stream dropped that bucket — the
batch rung still finds it in a later, under-cap bucket.

State: both join sides keep one row per (doc, band) — the doc id, the
band, its bucket and up to ``bands - 1`` earlier buckets, each bucket a
16-byte binary — partitioned by the bucket key, which is uniform by
construction (md5). The only shuffle is
the join's exchange on the bucket key, the batch join's shuffle key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_minhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Streaming documents → (doc_a, doc_b) candidate pairs (append),
    each colliding pair emitted once, at its first common band.

    Same parameters, signatures and buckets as the batch
    ``minhash_lsh_candidates_md5`` without its bucket cap (see the
    module docstring), so a DuckDB oracle can replay the streamed
    candidate set exactly."""
    from ..operators.dedup import band_bucket_vector, minhash_signatures_md5

    sigs = minhash_signatures_md5(docs, text_col, id_col, num_perm, shingle_k)
    bks = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            band_bucket_vector(F.col("sig"), bands, num_perm // bands), F.unhex
        ).alias("bks"),
    )
    banded = bks.select(
        "doc_id", F.posexplode("bks").alias("band", "bucket"), "bks"
    ).select("doc_id", "band", "bucket", F.slice("bks", 1, F.col("band")).alias("pre"))
    x = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"), F.col("pre").alias("pre_a")
    )
    y = banded.select(
        F.col("band").alias("_band_r"),
        F.col("bucket").alias("_bucket_r"),
        F.col("doc_id").alias("doc_b"),
        F.col("pre").alias("pre_b"),
    )
    earlier_band_agrees = F.exists(
        F.zip_with("pre_a", "pre_b", lambda u, v: u == v), lambda same: same
    )
    return x.join(
        y,
        (F.col("band") == F.col("_band_r"))
        & (F.col("bucket") == F.col("_bucket_r"))
        & (F.col("doc_a") < F.col("doc_b"))
        & ~earlier_band_agrees,
    ).select("doc_a", "doc_b")


def stream_minhash_candidates(
    spark,
    docs_dir: str,
    checkpoint_dir: str,
    schema=None,
    query_name: str = "minhash_candidates",
    max_files_per_trigger: int = 1,
    **kwargs,
):
    """File-stream parquet documents → streaming candidates → memory
    sink ``query_name`` (append, availableNow); returns the started
    query. ``max_files_per_trigger=1`` forces one micro-batch per file
    so the join state genuinely accumulates across batches. ``kwargs``
    go to :func:`streaming_minhash_candidates`."""
    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    return (
        streaming_minhash_candidates(docs, **kwargs)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def check_bucket_cap(pairs: pd.DataFrame, max_bucket: int) -> int:
    """Max candidate degree of the (doc_a, doc_b) pairs; raises
    RuntimeError when it exceeds ``max_bucket - 1``, the bound that
    proves no band bucket held more than ``max_bucket`` docs (module
    docstring)."""
    degree = pd.concat([pairs["doc_a"], pairs["doc_b"]]).value_counts()
    top = int(degree.max()) if len(degree) else 0
    if top > max_bucket - 1:
        raise RuntimeError(
            f"candidate degree {top} > max_bucket - 1 = {max_bucket - 1}: "
            "a bucket may exceed the cap, so stream ≡ batch is not shown"
        )
    return top
