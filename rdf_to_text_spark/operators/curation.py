"""LLM corpus curation: the composed training-data chain.

One operator owns the post-extraction half of a crawl→training-data
pipeline — quality gating, near-dup clustering with representative
keep, BPE-ish token counting, deterministic stratified sampling, and
token-budget shard packing — so the driver-gated capstone query
(queries_catalog.data_curation_e2e), the spark-submit stage
(jobs/run_pipeline.py --curate) and any notebook user run the SAME
code. The lang gate stays upstream (it reads page metadata the text no
longer carries).

Scale shape: every gate is a pure engine expression (whole-stage
codegen); dedup is the capped md5 MinHash-LSH ladder + exact n-gram
Jaccard verify + star-contraction connected components; sampling is
Bernoulli-per-row on a portable md5 slot (no coordination); packing is
the range-bucketed two-pass prefix sum (no SinglePartition exchange).
The only driver-side objects are CC round stats and the bucket-offset
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import connected_components
from .text_analysis import BPE_ISH_PATTERN, EN_STOPWORDS


def curate_corpus(
    texts: DataFrame,
    cleanup: list,
    min_tokens: int = 30,
    max_tokens: int = 10_000,
    long_bpe: int = 45,
    jaccard: float = 0.75,
    long_pct: int = 50,
    short_pct: int = 10,
) -> DataFrame:
    """texts(doc_id, text) → (doc_id, n_bpe, bucket, cum) curated shards
    input: quality-gated, near-dup-deduped (min-id representative per
    cluster), stratified-sampled, with the inclusive prefix token sum
    ``cum`` in doc_id order (shard = (cum - n_bpe) // budget is left to
    the caller so the packing arithmetic stays visible at the use
    site). ``cleanup`` receives the persist handles; the caller
    unpersists them once the result is materialized (the catalog
    drains its list with ``queries_catalog.release_caches``)."""
    from ..functions.ranking import global_prefix_sums
    from . import dedup

    lower = F.lower(F.col("text"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sw = F.array([F.lit(w) for w in EN_STOPWORDS])
    n_ws = F.size(toks)
    n_sw = F.size(
        F.filter(F.split(F.trim(lower), r"\s+"), lambda t: F.array_contains(sw, t))
    )
    n_alpha = F.length(F.regexp_replace(lower, r"[^a-z]", ""))
    n_nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    matches = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), F.lit(0))
    n_bpe = F.size(F.filter(matches, lambda m: F.trim(m) != F.lit("")))
    gated = (
        texts.filter(
            n_ws.between(min_tokens, max_tokens)
            & (100 * n_sw >= n_ws)
            & (2 * n_alpha >= n_nonspace)
        )
        .select("doc_id", "text", n_bpe.alias("n_bpe"))
        .persist()
    )
    cleanup.append(gated)

    cands = dedup.minhash_lsh_candidates_md5(
        gated.select("doc_id", "text"), cleanup=cleanup, pairs_only=True
    )
    pairs = (
        dedup.ngram_jaccard(
            gated.select("doc_id", "text"), cands.select("doc_a", "doc_b"), n=3,
            cleanup=cleanup,
        )
        .filter(F.col("jaccard") >= jaccard)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # component = min reachable node id, so non-representatives are
    # exactly the nodes that differ from their component label
    nonrep = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    survivors = gated.join(nonrep, "doc_id", "left_anti")

    slot = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    sampled = survivors.select(
        "doc_id",
        "n_bpe",
        F.when(F.col("n_bpe") >= long_bpe, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("bucket"),
        slot.alias("slot"),
    ).filter(
        ((F.col("bucket") == "long") & (F.col("slot") < long_pct))
        | ((F.col("bucket") == "short") & (F.col("slot") < short_pct))
    )
    return global_prefix_sums(
        sampled.select("doc_id", "n_bpe", "bucket"),
        [F.col("doc_id")],
        "n_bpe",
        out_col="cum",
        small_threshold=0,  # force the distributed path
        cleanup=cleanup,
    )
