#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall-clock of the headline queries (excluding JVM
startup). Per-query seconds go under "queries". Extra observability
fields (docs_per_sec, triples_per_sec) ride along — the driver ignores
unknown keys.

`value`'s `kg_extract_triples` term times extraction over the
rendered-pages fixture on every pass. Before the catalog's fixtures
became files it timed a scan of a persisted extraction frame, so
`value` is not comparable with runs from before that change; the
output's "notes" key says so.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _cpu_stat() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line —
    the machine-readable noisy-neighbor indicator BENCH.md's control
    experiments established; None where /proc is absent."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        ticks = [int(x) for x in parts[1:]]
        steal = ticks[7] if len(ticks) > 7 else 0
        return steal, sum(ticks)
    except Exception:
        return None


def main() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    stat0 = _cpu_stat()
    from rdf_to_text_spark.session import get_spark
    from rdf_to_text_spark import queries_catalog

    from pyspark.sql import functions as F

    CATALOG = queries_catalog.all_queries()
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]")
    # warm the JVM, shuffle machinery, window exec, and Python workers so
    # per-query times are steady-state
    spark.range(100000).groupBy(F.col("id") % 7).count().collect()
    spark.sql("SELECT id, row_number() OVER (ORDER BY id) FROM range(1000)").collect()

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # Cold extraction throughput (no caches): the honest docs/sec number.
    from rdf_to_text_spark import fixtures
    from rdf_to_text_spark.pipeline import extract_pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    cold_best = None
    for _ in range(2):
        t0 = time.time()
        n_triples = extract_pipeline(
            fixtures.pages_from_documents(spark, SF_DIR), use_html=True
        ).count()
        dt = time.time() - t0
        cold_best = dt if cold_best is None else min(cold_best, dt)
    extras["extract_cold_sec"] = round(cold_best, 3)
    extras["docs_per_sec"] = round(docs / cold_best, 1)
    extras["triples_per_sec"] = round(n_triples / cold_best, 1)

    headline = [
        name
        for name in (
            "kg_extract_triples",
            "kg_detect_mentions",
            "kg_vocab_topk",
            "kg_levi_edges",
            "kg_triple_support",
            "dedup_groups",
            "dedup_minhash_md5_pairs",
            "text_quality",
            "ann_cosine_topk",
            "tpch_q1",
            "top_orders_per_segment",
        )
        if name in CATALOG
    ]
    # Interleaved median-of-5 (steadiness protocol, r7): the headline
    # list runs as FIVE time-interleaved passes — each pass runs every
    # query once, in order — instead of per-query back-to-back repeats,
    # so a stolen CPU window lands on one PASS (machine-readable in
    # `steal_per_rep`) rather than on all repeats of one query, and the
    # per-query median-of-5 absorbs it. This sandbox has heavy noisy-
    # neighbor steal (identical runs vary 3x, BENCH.md controls) AND a
    # cold first pass (JVM/Python-worker/scan warmup). `queries`/`value`
    # stay min-of-all-runs (the round-over-round comparable number);
    # `queries_steady` excludes the cold pass; `queries_median5` /
    # `value_median5` are the steal-robust steadiness read.
    import statistics

    steady: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {name: [] for name in headline}
    steal_per_rep: list[float] = []
    for _rep in range(5):
        rep0 = _cpu_stat()
        for name in headline:
            t0 = time.time()
            CATALOG[name](spark, SF_DIR).count()
            all_runs[name].append(time.time() - t0)
            # each invocation persists fresh rank/signature caches;
            # release them once materialized so passes don't accumulate
            # executor memory
            queries_catalog.release_caches()
        rep1 = _cpu_stat()
        if rep0 and rep1 and rep1[1] > rep0[1]:
            steal_per_rep.append(
                round((rep1[0] - rep0[0]) / (rep1[1] - rep0[1]), 4)
            )
    for name, runs in all_runs.items():
        timings[name] = round(min(runs), 3)
        steady[name] = round(min(runs[1:]), 3)
    extras["queries_steady"] = steady
    extras["value_steady"] = round(sum(steady.values()), 3)
    extras["queries_median5"] = {
        n: round(statistics.median(r), 3) for n, r in all_runs.items()
    }
    extras["value_median5"] = round(
        sum(statistics.median(r) for r in all_runs.values()), 3
    )
    extras["steal_per_rep"] = steal_per_rep

    # Round-3/4 additions, timed separately (kept OUT of the headline
    # list and the total so `value` stays comparable across rounds).
    # Everything runs best-of-2: the first call pays Python-worker
    # spawn + scan warmup (measured 8.4 s cold vs 1.5-2.3 s steady on
    # multimodal_resize_geometry) and, for stream queries, renders the
    # pages fixture — run 2 is the capability number.
    def timed(names: tuple, best_of: dict) -> dict:
        out = {}
        for name in names:
            if name not in CATALOG:
                continue
            try:
                runs = []
                for _ in range(best_of.get(name, 2)):
                    t0 = time.time()
                    CATALOG[name](spark, SF_DIR).count()
                    runs.append(time.time() - t0)
                    queries_catalog.release_caches()
                out[name] = round(min(runs), 3)
            except Exception as e:
                # visible breakage, not a bare sentinel: a query that
                # starts throwing must show its error in BENCH output
                out[name] = {"sec": -1.0, "err": f"{type(e).__name__}: {e}"[:200]}
                queries_catalog.release_caches()
        return out

    extras["r3_queries_sec"] = timed(
        (
            "eval_ter_counts",
            "eval_meteor_counts",
            "kg_ent_unmask",
            "events_sessionize_stream",
            "tpch_q18_big_orders",
            "tpch_q7_volume_shipping",
            "events_salted_join",
            "top_customer_per_nation",
            "multimodal_resize_geometry",
            "multimodal_frame_plan",
            "kg_extract_triples_stream",
            "kg_resumable_extract",
        ),
        {"kg_resumable_extract": 1},  # runs its whole harness twice internally
    )
    extras["r4_queries_sec"] = timed(
        (
            "kg_cc_scale",
            "multimodal_decode_bmp",
            "multimodal_decode_png",
            "eval_meteor_synonyms",
            "tpch_q21_waiting_suppliers",
            "tpch_q22_idle_rich_customers",
            "dedup_minhash_stream",
            "html_extract_rich",
            "html_blocks",
            "kg_extract_triples_rich_html",
            "web_links",
            "web_link_degrees",
            "warc_roundtrip",
            "web_link_components",
            "web_pagerank",
            "web_meta",
            "warc_stream_ingest",
            "web_page_profile",
            "crawl_latest_snapshot",
        ),
        # the stream queries write their own scratch corpus + checkpoint
        # and run a multi-batch availableNow stream each call — once is
        # the honest harness-inclusive number
        {"dedup_minhash_stream": 1, "warc_stream_ingest": 1},
    )
    extras["r5_queries_sec"] = timed(
        (
            "kg_e2e_crawl",
            "web_pagerank_converged",
            "multimodal_decode_jpeg",
            "web_anchor_text",
            "web_url_normalize",
            "web_robots_gate",
            # structured-data KG extraction + incremental maintenance
            "kg_jsonld_triples",
            "kg_microdata_triples",
            "kg_infobox_rows",
            "kg_structdata_entities",
            "kg_structdata_profile",
            "kg_snapshot_delta",
            "kg_microdata_linked",
            "kg_multimodal_kg",
            "web_crawl_frontier",
            "web_sitemap_gap",
            "web_fetch_schedule",
            "kg_jsonld_stream",
            "tpch_q14_promo_share",
            "tpch_q15_top_supplier",
            "tpch_q19_bracket_revenue",
            "web_hits",
            "kg_entity_cooccurrence",
            "text_keywords_topk",
            "sample_stratified_md5",
            "pack_training_shards",
            "kg_schema_stats",
        ),
        # kg_e2e_crawl: run 1 renders + gzip-writes the WARC fixture,
        # run 2 is the STEADY pipeline number (snapshot → dedup →
        # resumable sink → CC over the immutable WARC input) — min()
        # reports the steady; the converged PageRank runs ~10 probe
        # rounds (each a job) so a second pass buys little signal for
        # ~30 s of window
        {"kg_e2e_crawl": 2, "web_pagerank_converged": 1, "kg_jsonld_stream": 1},
    )
    extras["r6_queries_sec"] = timed(
        (
            "kg_link_prior",
            "pack_training_shards_bucketed",
            "kg_schema_classes",
            "eval_meteor_default_syn",
            "kg_triple_reorder",
            "kg_token_positions",
            "kg_triples_reversed",
            "kg_shuffle_rank_md5",
            "dedup_cluster_mirrors",
        ),
        # reuses the kg_e2e_crawl WARC fixture; run 2 is the steady number
        {"dedup_cluster_mirrors": 2},
    )
    extras["r7_queries_sec"] = timed(
        (
            "data_curation_e2e",
            "sketch_kmv_distinct",
            "text_length_quantiles",
            "text_repetition_stats",
            "text_decontaminate_8gram",
            "text_pii_redact",
            "bpe_pair_counts",
            "bpe_learn_merges",
            "kg_graph_sources_sinks",
            "xml_lexcount_by_size_category",
            "xml_property_map",
            "text_quality_gate_stream",
            "sample_domain_quota",
            "text_paragraph_dedup",
            "text_dup_spans",
            "text_lm_buckets",
            "kg_fusion_functional",
            "kg_constraint_violations",
            "bpe_encode_corpus",
            "kg_relexicalise",
            "web_redirect_resolve",
            "eval_rouge_l",
            "text_winnow_fingerprint",
            "text_winnow_matches",
            "web_canonical_components",
            "web_crawl_budget",
        ),
        # run 1 may render the shared WARC fixture; run 2 is the steady
        # curation-pipeline number; the stream query writes its own
        # scratch corpus + checkpoint each call — once is honest
        {"data_curation_e2e": 2, "text_quality_gate_stream": 1},
    )

    # ANN quality: recall of the LSH path vs exact brute force
    try:
        brute = {
            (r.query_id, r.neighbor_id)
            for r in CATALOG["ann_cosine_topk"](spark, SF_DIR).collect()
        }
        lsh = {
            (r.query_id, r.neighbor_id)
            for r in CATALOG["ann_cosine_lsh"](spark, SF_DIR).collect()
        }
        if brute:
            extras["ann_lsh_recall"] = round(len(brute & lsh) / len(brute), 3)
        mp = {
            (r.query_id, r.neighbor_id)
            for r in CATALOG["ann_cosine_lsh_multiprobe"](spark, SF_DIR).collect()
        }
        if brute:
            extras["ann_lsh_multiprobe_recall"] = round(
                len(brute & mp) / len(brute), 3
            )
        # recall of the APPROXIMATE multi-probe path (the catalog's
        # ann_cosine_ivf is the exact degenerate config by design)
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in CATALOG["ann_cosine_ivf_probe"](spark, SF_DIR).collect()
        }
        if brute:
            extras["ann_ivf_recall"] = round(len(brute & ivf) / len(brute), 3)
    except Exception as exc:  # keep the one JSON line; say which key is missing
        extras["ann_recall_error"] = f"{type(exc).__name__}: {exc}"[:500]
    queries_catalog.release_caches()  # the ANN queries' persist handles

    # steal_frac: fraction of this run's CPU ticks stolen by the
    # hypervisor/neighbors — makes a stolen window machine-readable in
    # the artifact instead of adjudicated after the fact
    stat1 = _cpu_stat()
    if stat0 and stat1 and stat1[1] > stat0[1]:
        extras["steal_frac"] = round(
            (stat1[0] - stat0[0]) / (stat1[1] - stat0[1]), 4
        )

    # the heap this run had: get_spark derives it from the host unless
    # SPARK_DRIVER_MEMORY is set
    extras["driver_memory"] = spark.conf.get("spark.driver.memory")

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "notes": (
            "kg_extract_triples times extraction over the rendered-pages "
            "fixture, not a scan of a persisted frame: value is not "
            "comparable with runs before that change"
        ),
        **extras,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # never leave the driver without a JSON line
        print(json.dumps({"metric": "headline_queries_wall_sec", "value": -1.0,
                          "unit": "sec", "queries": {}, "sf": -1.0,
                          "error": str(exc)[:500]}))
        sys.exit(1)
