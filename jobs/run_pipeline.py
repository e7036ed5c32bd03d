#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Cluster:
    spark-submit --py-files rdf_to_text_spark.zip jobs/run_pipeline.py \
        --pages  s3://bucket/pages/      (or an Iceberg table ref) \
        --output s3://bucket/kg/         --chunks 1024

Local smoke:
    python jobs/run_pipeline.py --synthetic 10000 --output /tmp/kg_out

The job is chunked and resumable: each chunk commits triples + a
lineage row atomically-enough (per-chunk partition overwrite); rerun
after a crash re-executes only chunks without lineage. See
rdf_to_text_spark/sinks/merge.py for the protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# runnable as `python jobs/run_pipeline.py` from the repo root or anywhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (parquet dir)")
    ap.add_argument("--warc", help="ingest a dir of .warc/.warc.gz files instead of parquet")
    ap.add_argument("--synthetic", type=int, default=0, help="render N synthetic pages instead")
    ap.add_argument(
        "--rich-html",
        action="store_true",
        help="pages carry REAL html: run the block-filter front end "
        "(tokenize → tagged blocks → <p> main content → extraction) "
        "instead of trusting a pre-extracted text column; with "
        "--synthetic, renders realistic pages (fixtures_web)",
    )
    ap.add_argument(
        "--assume-lang",
        default="en",
        help="lang column for --warc input (WARC records carry no lang)",
    )
    ap.add_argument(
        "--detect-lang",
        action="store_true",
        help="with --warc: derive lang per page from the extracted text "
        "(text_analysis.lang_id_col stopword heuristic) instead of "
        "assuming --assume-lang — non-English captures are gated out "
        "before any extraction work",
    )
    ap.add_argument(
        "--structdata",
        action="store_true",
        help="also mine JSON-LD structured data from the html and union "
        "the relation facts into the triple stream (sent_idx = -1 marks "
        "structured provenance); with --synthetic, renders pages that "
        "carry JSON-LD/microdata/infobox alongside prose (fixtures_struct)",
    )
    ap.add_argument(
        "--link-prior",
        action="store_true",
        help="after extraction, resolve ambiguous first-token object "
        "mentions against the corpus co-occurrence prior "
        "(operators/linking.py: capped_entity_pairs + link_with_prior) "
        "and write mentions_linked/ alongside edges/",
    )
    ap.add_argument(
        "--curate",
        action="store_true",
        help="also run the training-data curation chain over the page "
        "TEXT (operators/curation.py: quality gate → near-dup cluster "
        "representative keep → BPE token counts → md5-slot stratified "
        "sample → token-budget shard packing) and write "
        "curated_shards/ alongside edges/",
    )
    ap.add_argument("--output", required=True, help="output base dir (edges/ lineage/)")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--canonicalize",
        action="store_true",
        help="after extraction, cluster edge surfaces by alias-ladder "
        "equivalence and write the canonical entity table "
        "(entities_canonical/) alongside edges/",
    )
    args = ap.parse_args()

    from rdf_to_text_spark import fixtures
    from rdf_to_text_spark.session import get_spark, local_frame
    from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable

    spark = get_spark(app_name="kg_pipeline", master=args.master)
    t0 = time.time()
    if args.synthetic:
        if args.structdata:
            from rdf_to_text_spark import fixtures_struct

            # struct pages carry prose <p> sentences AND the three
            # structured carriers — both extraction paths get real input
            pages = fixtures_struct.struct_pages_from_range(spark, args.synthetic)
            args.rich_html = True  # prose lives in real html here
        elif args.rich_html:
            from rdf_to_text_spark import fixtures_web

            pages = fixtures_web.rich_pages_from_range(spark, args.synthetic)
        else:
            pages = fixtures.pages_from_range(spark, args.synthetic)
    elif args.warc:
        from pyspark.sql import functions as F

        from rdf_to_text_spark.operators.webtext import latest_snapshot
        from rdf_to_text_spark.sources.warc import read_warc

        # crawl front door: WARC records have (url, warc_ts, html).
        # Multi-crawl input carries several captures per url, and
        # doc_id below is a url hash — compact to the latest capture
        # FIRST (payload-hash tiebreak for same-second captures), or
        # every capture of a url would share one doc_id and flow
        # through extraction as duplicate triples/lineage. The chunker
        # needs a doc_id (stable url hash — pmod handles sign) and the
        # extraction gate a lang column.
        pages = (
            latest_snapshot(read_warc(spark, args.warc))
            .drop("n_versions")
            .withColumn("doc_id", F.xxhash64("url"))
        )
        if args.detect_lang:
            from rdf_to_text_spark.functions.htmltext import extract_rich_udf
            from rdf_to_text_spark.operators.text_analysis import lang_id_col

            # one inline expression over the extracted text — no join,
            # no second frame; the gate then pushes ahead of extraction
            pages = (
                pages.withColumn("_lid_text", extract_rich_udf("html"))
                .withColumn("lang", lang_id_col("_lid_text"))
                .drop("_lid_text")
            )
        else:
            pages = pages.withColumn("lang", F.lit(args.assume_lang))
        args.rich_html = True  # WARC payloads are always real html
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("need --pages, --warc or --synthetic")

    extract = None
    if args.rich_html:
        from rdf_to_text_spark.operators.webtext import extract_triples_from_rich_html

        extract = extract_triples_from_rich_html
    if args.structdata:
        from pyspark.sql import functions as F

        from rdf_to_text_spark.operators.extract import extract_triples
        from rdf_to_text_spark.operators.structdata import jsonld_facts_with_url

        prose = extract or extract_triples

        def extract_with_struct(chunk):
            # prose triples + JSON-LD relation facts, one TRIPLES_SCHEMA
            # stream; structured rows mark provenance with sent_idx = -1
            # and carry no surface/span fields (there is no sentence)
            sd = jsonld_facts_with_url(chunk).select(
                "doc_id",
                "url",
                F.lit(-1).cast("int").alias("sent_idx"),
                "subj",
                "pred",
                "obj",
                F.lit(None).cast("string").alias("subj_surface"),
                F.lit(None).cast("string").alias("obj_surface"),
                F.lit(-1).cast("int").alias("template_id"),
                F.lit(-1).cast("int").alias("char_start"),
                F.lit(-1).cast("int").alias("char_end"),
            )
            return prose(chunk).unionByName(sd)

        extract = extract_with_struct
    results = run_resumable(
        spark, pages, args.output, n_chunks=args.chunks, extract=extract
    )
    sink = BucketedParquetMerge(spark, args.output)
    summary = {
        "chunks_run": [r["chunk_id"] for r in results],
        "n_triples_written": sum(r["n_triples"] for r in results),
        "edges_total": sink.edges().count(),
        "entities_total": sink.entities().count(),
        "wall_sec": round(time.time() - t0, 2),
    }

    if args.canonicalize:
        # the full north-star tail: alias-ladder clustering folded into one
        # row per cluster (operators/canonicalize.py:canonical_entity_table).
        # NOTE deliberate deviation from reference G5 semantics here: the
        # reference's first-token ent_dict is PER-EXAMPLE
        # (build_dataset.py:219-246); corpus-globally that key over-merges
        # (Aarhus / Aarhus_Airport / Aarhus_Lufthavn_A/S), so the global
        # tail requires full alias-ladder equivalence instead
        # (operators/canonicalize.py:alias_clusters).
        from pyspark.sql import functions as F

        from rdf_to_text_spark.operators.canonicalize import (
            alias_clusters,
            canonical_entity_table,
        )

        edges = sink.edges()
        surfaces = edges.select(F.col("subj").alias("surface")).unionByName(
            edges.select(F.col("obj").alias("surface"))
        )
        canonical = canonical_entity_table(
            surfaces.select(F.regexp_replace("surface", "_", " ").alias("surface")),
            clusterer=alias_clusters,
        )
        canonical_dir = f"{args.output}/entities_canonical"
        canonical.write.mode("overwrite").parquet(canonical_dir)
        # count the written table: canonical.count() would re-run the tail
        summary["canonical_entities"] = spark.read.parquet(canonical_dir).count()

    if args.curate:
        # the data_curation_e2e capstone as a production stage: same
        # operator, the caller applies the packing arithmetic
        from pyspark.sql import functions as F

        from rdf_to_text_spark.operators.curation import curate_corpus

        if args.rich_html:
            from rdf_to_text_spark.functions.htmltext import extract_rich_udf

            texts = pages.select("doc_id", extract_rich_udf("html").alias("text"))
        else:
            texts = pages.select("doc_id", "text")
        cleanup: list = []
        packed = curate_corpus(texts, cleanup=cleanup).select(
            "doc_id",
            "n_bpe",
            "bucket",
            ((F.col("cum") - F.col("n_bpe")) / 1000).cast("long").alias("shard"),
        )
        packed.write.mode("overwrite").parquet(f"{args.output}/curated_shards")
        for h in cleanup:
            h.unpersist()
        cur = spark.read.parquet(f"{args.output}/curated_shards")
        summary["curated_docs"] = cur.count()
        summary["curated_shards"] = cur.select("shard").distinct().count()

    if args.link_prior:
        # signals→linking production tail (same operators the driver
        # gates via kg_link_prior): prior from the WRITTEN edge table,
        # candidates broadcast from the alias constants, winner per
        # mention by (co-occurrence with the page subject desc, entity).
        from pyspark.sql import functions as F

        from rdf_to_text_spark.operators.linking import (
            capped_entity_pairs,
            link_with_prior,
        )
        from rdf_to_text_spark.templates import (
            entity_like_names,
            first_token_candidates,
        )

        edges = sink.edges()
        ents = local_frame(
            spark, [(e,) for e in entity_like_names()], "entity string"
        )
        inc = edges.select("doc_id", F.col("subj").alias("entity")).unionByName(
            edges.join(F.broadcast(ents), edges["obj"] == ents["entity"], "leftsemi")
            .select("doc_id", F.col("obj").alias("entity"))
        )
        prior = capped_entity_pairs(inc, cap=4)
        cands = local_frame(
            spark, first_token_candidates(), "mention string, entity string"
        )
        mentions = edges.filter(F.col("obj_surface").isNotNull()).select(
            "doc_id",
            "sent_idx",
            F.lower(F.element_at(F.split("obj_surface", " "), 1)).alias("mention"),
            F.col("subj").alias("anchor"),
        )
        linked = link_with_prior(mentions, cands, prior)
        linked.write.mode("overwrite").parquet(f"{args.output}/mentions_linked")
        summary["mentions_linked"] = (
            spark.read.parquet(f"{args.output}/mentions_linked").count()
        )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
