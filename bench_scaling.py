#!/usr/bin/env python
"""Scaling-efficiency benchmark: same job at N and 4N parallelism.

The north_rule's two-cluster-size criterion can't use a real cluster in
this sandbox, so we evidence it as instructed: run the identical
extraction job on the identical input at ``local[8]`` and ``local[32]``
and report throughput at both plus

    efficiency = throughput(4N) / (4 × throughput(N)).

Job shape matches production: parquet scan of a pages table → fused
extraction stage → count. The pages table is materialized once in a
setup phase (not timed); wall-clock excludes JVM startup and
Python-worker warmup (a warmup pass runs the same operators first).
Results are printed as JSON and appended to BENCH.md.

Usage: python bench_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


_MATERIALIZE = """
import sys
from rdf_to_text_spark import fixtures, fixtures_struct, fixtures_web
from rdf_to_text_spark.session import get_spark

n_docs, path, mode = int(sys.argv[1]), sys.argv[2], sys.argv[3]
spark = get_spark(app_name="bench_setup", master="local[32]", shuffle_partitions=32)
if mode in ("link_skew", "link_uniform"):
    # Zipf-head anchor fixture (judge ask r6#4): HALF the mentions sit
    # on pages anchored to one head entity ('every page linking to
    # United States'), and those same rows share one hot mention
    # surface — so the prior join's unordered pair key concentrates on
    # the (m0 candidate, United_States) keys. AQE skew-join must split
    # them; this table is the probe side at n_docs mentions.
    from pyspark.sql import functions as F
    head = (F.col("id") % 2 == 0) if mode == "link_skew" else F.lit(False)
    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("int").alias("sent_idx"),
        F.when(head, F.lit("m0"))
         .otherwise(F.concat(F.lit("m"), (F.col("id") % 50).cast("string")))
         .alias("mention"),
        F.when(head, F.lit("United_States"))
         .otherwise(F.concat(F.lit("E"), (F.col("id") % 5000).cast("string")))
         .alias("anchor"),
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
elif mode in ("curate", "winnow"):
    # texts table for the curation-chain window: 12 stopword-rich base
    # tokens + 25 seed-derived 3-letter content tokens per doc; every
    # doc with id % 7 == 3 is a near-mirror of its predecessor (same
    # seed, 3 extra footer tokens -> 3-gram Jaccard ~0.85, above the
    # 0.75 cluster threshold; unrelated docs share only the base run,
    # ~0.15). This reproduces the capstone's dup structure at bench
    # scale without WARC rendering.
    from pyspark.sql import functions as F
    L = "abcdefghijklmnopqrstuvwxyz"
    # char (k, j) reads base-26 digit ((3k+j) mod 8) of the scrambled
    # seed — NOT a linear function mod 26 (a first cut used
    # (seed*c) % 26, which collapses the corpus into 26 exact-dup
    # classes: every LSH bucket blows past max_bucket and the dedup
    # stage measures nothing). Period 26^8 ≈ 2e11 → expected exact
    # collisions at 1M docs ≈ 0.
    toks = ", ".join(
        "concat(" + ", ".join(
            f"substr('{L}', cast(((seed * 1000003 + {13 * k + 5 * j + 7})"
            f" div {26 ** ((3 * k + j) % 8)}) % 26 as int) + 1, 1)"
            for j in range(3)
        ) + ")"
        for k in range(25)
    )
    base = ("concat_ws(' ', 'the quick brown fox jumps over the lazy dog"
            f" near the river', {toks})")
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") - F.when(F.col("id") % 7 == 3, 1).otherwise(0)).alias("seed"),
            (F.col("id") % 7 == 3).alias("_mirror"),
        )
        .select("doc_id", F.expr(base).alias("_base"), "_mirror")
        .select(
            "doc_id",
            F.when(
                F.col("_mirror"),
                F.concat(F.col("_base"), F.lit(" mirrored archive footer")),
            )
            .otherwise(F.col("_base"))
            .alias("text"),
        )
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
else:
    gen = (fixtures_web.rich_pages_from_range if mode == "rich"
           else fixtures_struct.struct_pages_from_range
           if mode in ("struct", "struct_counts")
           else fixtures.pages_from_range)
    gen(spark, n_docs, partitions=64).write.mode("overwrite").parquet(path)
spark.stop()
"""


def materialize_pages(n_docs: int, mode: str = "plain") -> str:
    """Write the pages table in a SUBPROCESS so its JVM (and heap RSS)
    dies before measurement — a lingering gateway JVM in the parent
    evicts the page cache and distorts the timed runs."""
    import subprocess

    # struct_counts is a control over the SAME pages as struct
    suffix = ("" if mode == "plain"
              else "_struct" if mode in ("struct", "struct_counts")
              else "_curate" if mode in ("curate", "winnow")
              else f"_{mode}")
    path = os.path.join(tempfile.gettempdir(), f"bench_pages_{n_docs}{suffix}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", _MATERIALIZE, str(n_docs), path, mode],
        env=env, timeout=1800, check=True, capture_output=True,
    )
    return path


_WORKER = """
import json, sys, time, zlib
from rdf_to_text_spark.pipeline import extract_pipeline
from rdf_to_text_spark.operators.structdata import structdata_counts, structdata_facts
from rdf_to_text_spark.operators.webtext import extract_triples_from_rich_html
from rdf_to_text_spark.session import get_spark, local_frame

cpus, pages_path, n_docs, mode = (
    int(sys.argv[1]), sys.argv[2], int(sys.argv[3]), sys.argv[4])
spark = get_spark(app_name=f"scale{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
pages = spark.read.parquet(pages_path)
if mode in ("link_skew", "link_uniform"):
    # prove the prior join under anchor skew WITHOUT the broadcast
    # escape hatch: at corpus scale the pair prior outgrows the
    # broadcast threshold, so the shuffle join + AQE skew split is the
    # real path (candidates keep their explicit broadcast hint)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from rdf_to_text_spark.operators.linking import link_with_prior

    ents = [f"m{k}_c{j}" for k in range(50) for j in range(4)]
    det = lambda *xs: zlib.crc32("|".join(xs).encode()) % 7 + 1
    cands = local_frame(
        spark,
        [(f"m{k}", f"m{k}_c{j}") for k in range(50) for j in range(4)],
        "mention string, entity string")
    prior_rows = []
    for c in ents:
        for a in ["United_States"] + [f"E{i}" for i in range(0, 5000, 20)]:
            e1, e2 = sorted((c, a))
            prior_rows.append((e1, e2, det(c, a)))
    prior = local_frame(spark, prior_rows, "e1 string, e2 string, n_docs long")
    anch = local_frame(
        spark,
        [(f"m{k}", f"m{k}_c{j}", det("a", f"m{k}", str(j)))
         for k in range(50) for j in range(4)],
        "mention string, entity string, n_refs long")
    job = lambda df: link_with_prior(df, cands, prior,
                                     anchor_prior=anch, w_cooc=10, w_anchor=1)
elif mode == "winnow":
    # the MOSS selector alone over the same texts table ('triples' =
    # selected fingerprints), on the OPERATOR DEFAULT kernel — which
    # since r8 is the Arrow path (process-per-core numpy workers; the
    # expression kernel's nested HOFs hit the shared-JVM allocation
    # wall, ~0.35 at 8->32 vs the 0.68 raw-mp control; see the BENCH.md
    # winnow annotations, r7 + r8). Equivalence-tested vs "expr".
    from rdf_to_text_spark.operators.text_analysis import winnow_fingerprints

    job = lambda df: winnow_fingerprints(df.select("doc_id", "text"), k=5, w=8)
elif mode == "curate":
    # the capstone's post-extraction chain end-to-end: quality gates ->
    # MinHash-LSH candidates -> Jaccard verify -> CC representative keep
    # -> stratified sample -> distributed prefix-sum shard packing.
    # Each timed run builds a fresh chain (its own persist handles,
    # unpersisted at the start of the next run) and materializes it
    # exactly once — the global_prefix_sums contract.
    from pyspark.sql import functions as F
    from rdf_to_text_spark.operators.curation import curate_corpus

    _handles = []
    def _curate_job(df):
        for h in _handles:
            try:
                h.unpersist()
            except Exception:
                pass
        _handles.clear()
        out = curate_corpus(df.select("doc_id", "text"), _handles)
        return out.select(F.expr("(cum - n_bpe) div 1000").alias("shard"))
    job = _curate_job
else:
    job = ((lambda df: extract_triples_from_rich_html(df)) if mode == "rich"
           else (lambda df: structdata_facts(df)) if mode == "struct"
           else (lambda df: structdata_counts(df)) if mode == "struct_counts"
           else (lambda df: extract_pipeline(df, use_html=True)))
# warmup touches EVERY partition so all Python workers fork+import
# outside the measured window (sample keeps the work small)
job(pages.sample(0.02, seed=1)).count()
# best-of-3: this sandbox shows heavy noisy-neighbor CPU steal (identical
# runs vary 3x); the minimum wall is the honest capability estimate.
walls, n_triples = [], 0
for _ in range(3):
    t0 = time.time()
    n_triples = job(pages).count()
    walls.append(time.time() - t0)
wall = min(walls)
print(json.dumps({"cpus": cpus, "n_docs": n_docs, "n_triples": n_triples,
                  "wall_sec": round(wall, 2), "all_walls": [round(w, 2) for w in walls],
                  "docs_per_sec": round(n_docs / wall, 1),
                  "triples_per_sec": round(n_triples / wall, 1)}))
spark.stop()
"""


def run_at(cpus: int, pages_path: str, n_docs: int, mode: str = "plain") -> dict:
    """Run the measurement in a CPU-pinned subprocess.

    ``taskset -c 0-{cpus-1}`` confines the *whole* Spark process tree
    (JVM + Python workers) to exactly `cpus` cores — the honest proxy
    for an N-executor cluster. Without pinning, local[8]'s Python
    workers borrow idle cores and inflate the small-cluster number.
    """
    import subprocess

    cmd = [
        "taskset", "-c", f"0-{cpus - 1}",
        sys.executable, "-c", _WORKER, str(cpus), pages_path, str(n_docs), mode,
    ]
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=1800)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    args = [a for a in sys.argv[1:]
            if a not in ("--rich", "--struct", "--struct-counts", "--link-skew",
                         "--link-uniform", "--curate", "--winnow")]
    mode = ("rich" if "--rich" in sys.argv[1:]
            else "struct_counts" if "--struct-counts" in sys.argv[1:]
            else "struct" if "--struct" in sys.argv[1:]
            else "link_skew" if "--link-skew" in sys.argv[1:]
            else "link_uniform" if "--link-uniform" in sys.argv[1:]
            else "curate" if "--curate" in sys.argv[1:]
            else "winnow" if "--winnow" in sys.argv[1:] else "plain")
    n_docs = int(args[0]) if args else 2_000_000
    pages_path = materialize_pages(n_docs, mode)
    r8 = run_at(8, pages_path, n_docs, mode)
    r32 = run_at(32, pages_path, n_docs, mode)
    eff = r32["docs_per_sec"] / (4 * r8["docs_per_sec"])
    out = {
        "metric": f"scaling_efficiency_8_to_32{'' if mode == 'plain' else '_' + mode}",
        "value": round(eff, 3),
        "unit": "ratio",
        "n_docs": n_docs,
        "local8": r8,
        "local32": r32,
    }
    print(json.dumps(out))
    job_desc = (
        "parquet scan → HTML tokenize → block filter → fused extract"
        if mode == "rich"
        else "parquet scan → one-pass structured-data parse (jsonld+microdata+infobox)"
        if mode == "struct"
        else "parquet scan → same parse, per-page COUNTS out (output-bandwidth control)"
        if mode == "struct_counts"
        else "Zipf-head-anchor link_with_prior: broadcast cand probe → "
             "shuffle pair-prior join (autoBroadcast OFF, AQE skew split) → "
             "per-mention window; 50% of mentions share one (surface, anchor)"
        if mode == "link_skew"
        else "uniform-anchor control for the link_with_prior skew window "
             "(same size/shape, no Zipf head)"
        if mode == "link_uniform"
        else "curation chain: quality gates → MinHash-LSH → Jaccard verify → "
             "CC representative keep → stratified sample → prefix-sum shard "
             "packing (1-in-7 near-mirror corpus; 'triples' = packed docs)"
        if mode == "curate"
        else "parquet scan → winnowing fingerprint selection (k=5, w=8, "
             "Arrow kernel; 'triples' = selected fingerprints)"
        if mode == "winnow"
        else "parquet scan → fused extract"
    )
    with open("BENCH.md", "a") as f:
        f.write(
            f"\n## Scaling run ({time.strftime('%Y-%m-%d %H:%M')}Z, n_docs={n_docs}, "
            f"{job_desc})\n\n"
            f"| parallelism | wall (s) | docs/sec | triples/sec |\n|---|---|---|---|\n"
            f"| local[8]  | {r8['wall_sec']} | {r8['docs_per_sec']} | {r8['triples_per_sec']} |\n"
            f"| local[32] | {r32['wall_sec']} | {r32['docs_per_sec']} | {r32['triples_per_sec']} |\n\n"
            f"**Scaling efficiency (8→32 cores, 4×): {eff:.3f}** "
            f"(target ≥ 0.8 per BASELINE.json north_rule)\n"
        )


if __name__ == "__main__":
    main()
