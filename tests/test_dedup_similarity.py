"""Dedup ladder + similarity search operators."""

import numpy as np
from pyspark.sql import functions as F

from rdf_to_text_spark.operators import dedup, similarity


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_exact_duplicates(spark):
    docs = _docs(spark, ["a b c", "A  b C", "something else", "a b c"])
    got = {r.digest: (r.keeper_id, r.n_docs) for r in dedup.exact_duplicates(docs).collect()}
    assert len(got) == 1  # the whitespace/case-normalized 'a b c' group
    ((keeper, n),) = got.values()
    assert keeper == 0 and n == 3


def test_dedup_keep_first(spark):
    docs = _docs(spark, ["x y", "x y", "z"])
    kept = sorted(r.doc_id for r in dedup.dedup_exact_keep_first(docs).collect())
    assert kept == [0, 2]


def test_minhash_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark shuffle partitions and arrow batches"
    docs = _docs(spark, [base, near, far])
    pairs = dedup.minhash_lsh_candidates_md5(docs, num_perm=64, bands=16).collect()
    found = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}
    assert (0, 1) in found and found[(0, 1)] > 0.5
    assert (0, 2) not in found and (1, 2) not in found


def test_minhash_md5_twin_near_dups(spark):
    """At its default banding the md5 MinHash finds the near-dup
    structure: identical docs at est 1.0, clear near-dups surfaced,
    unrelated pairs absent."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark shuffle partitions and arrow batches"
    docs = _docs(spark, [base, near, far, base])
    found = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_candidates_md5(docs).collect()
    }
    assert found[(0, 3)] == 1.0
    assert (0, 1) in found and found[(0, 1)] > 0.5
    assert (0, 2) not in found and (1, 2) not in found


def test_minhash_identical_docs(spark):
    docs = _docs(spark, ["same tokens here exactly", "same tokens here exactly"])
    pairs = dedup.minhash_lsh_candidates_md5(docs).collect()
    assert len(pairs) == 1 and pairs[0].est_jaccard == 1.0


def test_simhash_properties(spark):
    docs = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "delta epsilon zeta"])
    got = {r.doc_id: r.simhash_hex for r in dedup.simhash_md5(docs).collect()}
    assert got[0] == got[1] != got[2]


def test_simhash_plan_has_no_shuffle(spark):
    """The scale path must be a narrow map: no exchange in the plan."""
    docs = _docs(spark, ["a b c", "d e f"])
    plan = dedup.simhash_md5(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_minhash_bucket_cap(spark):
    """A degenerate bucket (many identical docs) is dropped when it
    exceeds max_bucket instead of going quadratic; distinct near-dup
    pairs still surface through their own buckets."""
    same = ["identical filler text body here"] * 12
    near = ["the quick brown fox jumps high today", "the quick brown fox jumps high tomorrow"]
    docs = _docs(spark, same + near)
    # cap below the degenerate bucket size: the 12-identical group's
    # buckets all blow the cap, so none of its 66 pairs emit
    pairs = dedup.minhash_lsh_candidates_md5(docs, max_bucket=8).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (12, 13) in got
    assert all(a >= 12 for a, _ in got), got
    # default cap (unhit): all pairs emit
    pairs_all = dedup.minhash_lsh_candidates_md5(docs).collect()
    assert len(pairs_all) == 66 + 1


def test_minhash_pair_join_carries_no_signatures(spark):
    """The bucket self-join must shuffle (id, band, bucket) only —
    signatures re-attach after pair dedup (100-TB shuffle budget)."""
    docs = _docs(spark, ["a b c d", "a b c e"])
    plan = (
        dedup.minhash_lsh_candidates_md5(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    self_join = [ln for ln in joins if "band" in ln]
    assert self_join, plan
    assert not re.search(r"sig[^_a-z]", self_join[0]), self_join[0]


def test_ngram_jaccard_exact(spark):
    docs = _docs(spark, ["a b c d e", "a b c d x", "q r s t u"])
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard(docs, pairs).collect()}
    # trigram sets: {abc,bcd,cde} vs {abc,bcd,cdx}: |∩|=2 |∪|=4 → 0.5
    assert abs(got[(0, 1)] - 0.5) < 1e-9
    assert got[(0, 2)] == 0.0


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = similarity.cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4)
    got_rows = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    v64 = vecs.astype("float64")
    norms = np.linalg.norm(v64, axis=1)
    for q in range(3):
        sims = (v64 @ v64[q]) / (norms * norms[q])
        sims[q] = -np.inf
        order = sorted(range(30), key=lambda i: (-sims[i], i))[:4]
        for rank, nid in enumerate(order, 1):
            assert got_rows[(q, rank)] == nid


def test_lsh_buckets_deterministic(spark):
    rng = np.random.RandomState(1)
    vecs = rng.randn(10, 64).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    b1 = {(r.vec_id, r.table): r.bucket
          for r in similarity.hyperplane_buckets(df, n_tables=4).collect()}
    b2 = {(r.vec_id, r.table): r.bucket
          for r in similarity.hyperplane_buckets(df, n_tables=4).collect()}
    assert b1 == b2
    assert len(b1) == 40  # 10 vectors x 4 tables
    assert all(0 <= b < 256 for b in b1.values())


def test_embedding_near_dups(spark):
    """Planted near-duplicate vectors must surface; random pairs must not."""
    rng = np.random.RandomState(3)
    base = rng.randn(20, 64).astype("float32")
    dup = (base[0] + rng.randn(64).astype("float32") * 0.01)  # near-dup of vec 0
    vecs = np.vstack([base, dup[None, :]])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    pairs = {(r.id_a, r.id_b): r.sim for r in similarity.embedding_near_dups(df, 0.95).collect()}
    assert (0, 20) in pairs and pairs[(0, 20)] > 0.99
    assert all(a == 0 and b == 20 for (a, b) in pairs)  # no false positives


def test_lsh_topk_recall(spark):
    """Multi-table LSH must recover most of the exact top-k."""
    rng = np.random.RandomState(2)
    # clustered vectors so neighbors actually exist
    centers = rng.randn(4, 64) * 3
    vecs = np.vstack([c + rng.randn(50, 64) for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    from pyspark.sql import functions as F

    q = df.filter(F.col("vec_id") < 10)
    brute = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk_bruteforce(df, q, k=5).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in similarity.cosine_topk_lsh(df, q, k=5).collect()}
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.8, recall


def test_simhash_md5_matches_hashlib_twin(spark):
    """The portable (md5-token-hash) simhash must equal a literal
    hashlib reimplementation — same bits the DuckDB oracle replays."""
    import hashlib

    def twin(text):
        toks = text.lower().strip().split()
        vals = [int(hashlib.md5(t.encode()).hexdigest()[:16], 16) for t in toks]
        sig = 0
        for i in range(64):
            s = sum(1 if (v >> i) & 1 else -1 for v in vals)
            if s > 0:
                sig |= 1 << i
        return f"{sig:016x}"

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "repeated repeated tokens tokens tokens",
        "single",
        "MIXED case And   Whitespace ",
    ]
    docs = _docs(spark, texts)
    got = {r.doc_id: r.simhash_hex for r in dedup.simhash_md5(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == twin(t), (i, t)


def test_null_text_does_not_crash_hash_ops(spark):
    """NULL text rows must not crash the vectorized UDFs (regression:
    np.asarray(None) / list(None) raised TypeError)."""
    docs = spark.createDataFrame(
        [(0, "real text here"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    shm = {r.doc_id: r.simhash_hex for r in dedup.simhash_md5(docs).collect()}
    assert shm[1] == "0" * 16 and shm[2] == "0" * 16 and shm[0] != "0" * 16
    # minhash path: just must not raise
    dedup.minhash_lsh_candidates_md5(docs).collect()


def test_ivf_cells_partition_pruning(spark, tmp_path):
    """The IVF scale path's physical layout: cells materialized as
    partition directories, so a probe's cell filter prunes at the FILE
    level (PartitionFilters on the scan), not rows-after-read."""
    from rdf_to_text_spark.operators.similarity import materialize_ivf_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_cells")
    centers = materialize_ivf_cells(emb, path, n_cells=8)
    assert len(centers) == 8

    cells = spark.read.parquet(path)
    probed = cells.filter(F.col("cell_id").isin([1, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan.split("PartitionFilters")[1][:200], plan[:2000]
    # pruning is semantic too: only the probed cells' rows come back
    got_cells = {r.cell_id for r in probed.select("cell_id").distinct().collect()}
    assert got_cells <= {1, 3}
    # and the whole corpus round-trips through the layout
    assert cells.count() == emb.count()


def test_multiprobe_recall_dominates_single_probe(spark):
    # Hamming-1 multiprobe may only ADD candidates, so its top-k recall
    # vs brute force is >= the single-probe path's on any corpus.
    from rdf_to_text_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    brute = {(r.query_id, r.neighbor_id) for r in cosine_topk_bruteforce(emb, q, k=5).collect()}
    single = {(r.query_id, r.neighbor_id) for r in cosine_topk_lsh(emb, q, k=5).collect()}
    multi = {(r.query_id, r.neighbor_id)
             for r in cosine_topk_lsh(emb, q, k=5, hamming_probes=4).collect()}
    r1 = len(brute & single) / len(brute)
    r2 = len(brute & multi) / len(brute)
    assert r2 >= r1
    assert r2 > 0.8  # sanity floor on the fixture corpus


def test_ngram_jaccard_ignores_non_candidate_docs(spark):
    # the candidate-id semi-join cut must be output-invariant: docs that
    # appear in no pair contribute nothing either way
    from rdf_to_text_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "totally unrelated filler text here"),
            (4, "more bystander content never in a pair"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    rows = dedup.ngram_jaccard(docs, pairs, n=3).collect()
    assert len(rows) == 1 and rows[0].doc_a == 1 and rows[0].doc_b == 2
    # 3-grams: doc1 {abc,bcd,cde}, doc2 {abc,bcd,cdx} -> J = 2/4
    assert abs(rows[0].jaccard - 0.5) < 1e-12


def _minhash_md5_expr_reference(docs, num_perm=64, k=3, seed=42):
    """The engine-side spelling of minhash_signatures_md5 — tokenize
    (split/lower/trim), shingle and md5 as higher-order functions, a
    pandas UDF only parsing hex — the form whose every step has a direct
    SQL spelling (the DuckDB oracle's). Reference for the Arrow kernel."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    rng = np.random.RandomState(seed)
    p = (1 << 61) - 1
    a = rng.randint(1, p, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, p, size=num_perm, dtype=np.int64).astype(np.uint64)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    shingles = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    hexes = F.transform(shingles, lambda s: F.substring(F.md5(s), 1, 16))

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(hex_lists: pd.Series) -> pd.Series:
        sigs = []
        for hl in hex_lists:
            hl = list(hl) if hl is not None else []
            if not hl:
                sigs.append([0] * num_perm)
                continue
            x = dedup._hex16_to_uint64(hl)
            vals = (a[:, None] * x[None, :] + b[:, None]) % np.uint64(p)
            sigs.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(sigs)

    return docs.select(F.col("doc_id"), sig_udf(hexes).alias("sig"))


def test_minhash_md5_arrow_kernel_equivalence(spark):
    """The Arrow md5-signature kernel must emit EXACTLY the
    engine-side reference's signatures — corpus slice plus crafted
    whitespace/short/degenerate docs."""
    from rdf_to_text_spark.operators.dedup import minhash_signatures_md5

    crafted = [
        (100, "one two three four five"),
        (101, "a b"),
        (102, "  tab\tand\nnewline   separated tokens here now ok yes sir "),
        (103, ""),
        (104, None),
        (105, "x"),
        (106, "MiXeD Case TOKENS lower the Same way"),
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(spark.createDataFrame(crafted, "doc_id long, text string"))
    a = {
        (r.doc_id, tuple(r.sig))
        for r in _minhash_md5_expr_reference(docs).collect()
    }
    b = {
        (r.doc_id, tuple(r.sig))
        for r in minhash_signatures_md5(docs).collect()
    }
    assert a == b and len(a) > 0


def test_local_checkpoint_handle_frees_blocks(spark):
    """The release handle ngram_jaccard hands to `cleanup` must really
    drop the checkpoint RDD's blocks: a plain DataFrame.unpersist() does
    not, and the handle reaches the RDD through private py4j surface."""
    df = spark.range(100).localCheckpoint(eager=True)
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    jsc = spark.sparkContext._jsc

    def cached_ids():
        return {info.id() for info in jsc.sc().getRDDStorageInfo()}

    assert rdd_id in set(jsc.getPersistentRDDs().keySet())
    assert rdd_id in cached_ids()
    dedup._LocalCheckpointHandle(df).unpersist()
    assert rdd_id not in set(jsc.getPersistentRDDs().keySet())
    assert rdd_id not in cached_ids()
