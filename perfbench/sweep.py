"""The traced run: every layer's public function called on staged
(materialized) input, one span per call, Spark's event log read afterwards.

Every traced run sweeps all three paths, so each per-layer metric exists on
every workload; the named workload only decides which untraced pass the
trace overhead is measured against. Staging writes run in ``stage.*`` spans
so their Spark work is not charged to a layer.
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from rdf_to_text_spark.fixtures import PAGES_SCHEMA
from rdf_to_text_spark.functions.ranking import global_prefix_sums
from rdf_to_text_spark.operators import dedup
from rdf_to_text_spark.operators.canonicalize import connected_components
from rdf_to_text_spark.operators.curation import curate_corpus
from rdf_to_text_spark.operators.webtext import extract_triples_from_rich_html
from rdf_to_text_spark.pipeline import extract_pipeline

from .eventlog import Span, Tracer
from .passes import set_up, timed_pass
from .workloads import WORKLOADS, Curate, KgBuild, KgStream

JACCARD = 0.75  # curate_corpus's verify threshold

# Spans whose event-log totals are published, in the order of the paths.
LAYER_SPANS = [
    "sources.read_warc",
    "webtext.latest_snapshot",
    "webtext.extract_triples_from_rich_html",
    "sinks.run_resumable",
    "sinks.edges_entities",
    "canonicalize.canonical_entity_table",
    "dedup.minhash_lsh_candidates_md5",
    "dedup.ngram_jaccard",
    "canonicalize.connected_components",
    "ranking.global_prefix_sums",
    "curation.curate_corpus",
    "pipeline.extract_pipeline",
    "streaming.stream_extract",
]
# Span fields published as metrics; every field of every span is in the
# report's span dump. Shuffle volume is published where the layer shuffles,
# GC time where there is enough of it to read.
SHUFFLE_SPANS = [
    "webtext.latest_snapshot",
    "sinks.run_resumable",
    "sinks.edges_entities",
    "canonicalize.canonical_entity_table",
    "dedup.minhash_lsh_candidates_md5",
    "dedup.ngram_jaccard",
    "canonicalize.connected_components",
    "ranking.global_prefix_sums",
    "curation.curate_corpus",
]
GC_SPANS = ["sinks.run_resumable", "curation.curate_corpus"]
DERIVED_UNITS = {
    "session.get_spark.wall_s": "s",
    "sources.read_warc.records_per_s": "1/s",
    "webtext.extract_triples_from_rich_html.triples_per_page": "count",
    "sinks.run_resumable.input_scans": "ratio",
    "dedup.minhash_lsh_candidates_md5.candidate_pairs": "count",
    "dedup.ngram_jaccard.kept_frac": "ratio",
    "canonicalize.connected_components.rounds": "count",
    "curation.curate_corpus.self_s": "s",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms",
    "streaming.query_planning_p50_ms": "ms",
    "streaming.latest_offset_p50_ms": "ms",
    "streaming.fixed_overhead_p50_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for s in LAYER_SPANS:
        units.update({f"{s}.wall_s": "s", f"{s}.task_s": "s", f"{s}.jobs": "count"})
    units.update({f"{s}.shuffle_write_mb": "MB" for s in SHUFFLE_SPANS})
    units.update({f"{s}.gc_s": "s" for s in GC_SPANS})
    return {**units, **DERIVED_UNITS}


def n_rows(path: Path) -> int:
    return ds.dataset(str(path), format="parquet", partitioning="hive").count_rows()


class TracedRun:
    def __init__(self, args, work: Path, session_started: float, session_s: float):
        self.args = args
        self.work = work
        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
        # the session started before the tracer existed: record it after the fact
        s = Span(0, "session.get_spark", None, self.tracer.run_id, session_started)
        s.end = session_started + session_s
        self.tracer.spans.append(s)
        self.derived: dict[str, float] = {"session.get_spark.wall_s": session_s}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def execute(self, spark, sampler) -> dict:
        wls, srcs = {}, {}
        for name, cls in WORKLOADS.items():
            wls[name] = cls(self.args.seed, self.args.scale)
            # no warm-up pass: warming the paths would not fit in one run's
            # time, so every layer's figures include its first-use costs
            srcs[name], _, _ = set_up(spark, wls[name], self.work, gen_repeats=1, warmup_passes=0)
        wl = wls[self.args.workload]
        with self.tracer.span("trace"):
            with self.tracer.span(KgBuild.name):
                self.kg_build(spark, wls[KgBuild.name], srcs[KgBuild.name])
            with self.tracer.span(Curate.name):
                self.curate(spark, wls[Curate.name], srcs[Curate.name])
            with self.tracer.span(KgStream.name):
                self.kg_stream(spark, wls[KgStream.name], srcs[KgStream.name])
        # the untraced reference the overhead is measured against, run once
        # the sweep has warmed its path
        ref = timed_pass(spark, wl, srcs[wl.name], self.work / "reference", sampler)
        self._count(ref["problems"])
        traced_total = {
            KgBuild.name: sum(
                self.tracer.by_name(n).wall_s
                for n in (
                    "sources.read_warc", "webtext.latest_snapshot", "sinks.run_resumable",
                    "sinks.edges_entities", "canonicalize.canonical_entity_table",
                )
            ),
            Curate.name: self.tracer.by_name("curation.curate_corpus").wall_s,
            KgStream.name: self.tracer.by_name("streaming.stream_extract").wall_s,
        }[wl.name]
        self.derived["trace.overhead_s"] = traced_total - ref["wall_s"]
        return {"workload": wl.name, "reference_pass": ref, "traced_total_s": traced_total}

    def _count(self, problems: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems

    def _check(self, wl, out: Path, info: dict) -> None:
        self._count(wl.check(out, info))

    def kg_build(self, spark, wl: KgBuild, src: Path) -> None:
        span, st, out = self.tracer.span, self.work / "stage-kg", self.work / "traced-kg"
        with span("sources.read_warc") as s:
            wl.captures(spark, src).write.parquet(str(st / "captures"))
        self.derived["sources.read_warc.records_per_s"] = wl.records / s.wall_s
        with span("webtext.latest_snapshot"):
            wl.snapshot(spark.read.parquet(str(st / "captures"))).write.parquet(
                str(st / "snapshot")
            )
        snapshot = spark.read.parquet(str(st / "snapshot"))
        with span("webtext.extract_triples_from_rich_html"):
            extract_triples_from_rich_html(snapshot).write.parquet(str(st / "triples"))
        n_pages = n_rows(st / "snapshot")
        self.derived["webtext.extract_triples_from_rich_html.triples_per_page"] = (
            n_rows(st / "triples") / n_pages
        )
        with span("sinks.run_resumable") as s:
            wl.resumable(spark, snapshot, out)
        self.resumable_span, self.snapshot_rows = s, n_pages
        with span("sinks.edges_entities"):
            wl.edges_entities(spark, out)
        with span("canonicalize.canonical_entity_table"):
            wl.canonicalize(spark, out)
        self._check(wl, out, {})

    def curate(self, spark, wl: Curate, src: Path) -> None:
        span, st, out = self.tracer.span, self.work / "stage-curate", self.work / "traced-curate"
        cleanup: list = []
        try:
            with span("curation.curate_corpus") as whole:
                wl.pack(curate_corpus(wl.texts(spark, src), cleanup=cleanup)).write.parquet(
                    str(out / "curated_shards")
                )
            # curate_corpus hands its persisted quality-gated frame back first
            gated = cleanup[0]
            if gated.columns != ["doc_id", "text", "n_bpe"]:
                raise RuntimeError(f"unexpected first cleanup handle: {gated.columns}")
            with span("stage.gated_texts"):
                gated.select("doc_id", "text").write.parquet(str(st / "gated"))
        finally:
            for handle in cleanup:
                handle.unpersist()
        self._check(wl, out, {})

        texts = spark.read.parquet(str(st / "gated"))
        cleanup = []
        try:
            with span("dedup.minhash_lsh_candidates_md5") as lsh:
                dedup.minhash_lsh_candidates_md5(
                    texts, cleanup=cleanup, pairs_only=True
                ).write.parquet(str(st / "candidates"))
            with span("dedup.ngram_jaccard") as jac:
                dedup.ngram_jaccard(
                    texts, spark.read.parquet(str(st / "candidates")), n=3, cleanup=cleanup
                ).write.parquet(str(st / "jaccard"))
            stats: dict = {}
            pairs = (
                spark.read.parquet(str(st / "jaccard"))
                .filter(F.col("jaccard") >= JACCARD)
                .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            )
            with span("canonicalize.connected_components") as cc:
                connected_components(pairs, stats=stats).write.parquet(str(st / "components"))
            sampled = spark.read.parquet(str(out / "curated_shards")).select(
                "doc_id", F.col("n_bpe_tokens").alias("n_bpe"), "bucket"
            )
            with span("ranking.global_prefix_sums") as prefix:
                global_prefix_sums(
                    sampled, [F.col("doc_id")], "n_bpe", out_col="cum",
                    small_threshold=0, cleanup=cleanup,
                ).write.parquet(str(st / "prefix_sums"))
        finally:
            for handle in cleanup:
                handle.unpersist()
        n_cand = n_rows(st / "candidates")
        kept = ds.dataset(str(st / "jaccard")).to_table(
            filter=ds.field("jaccard") >= JACCARD
        ).num_rows
        self.derived.update(
            {
                "dedup.minhash_lsh_candidates_md5.candidate_pairs": n_cand,
                "dedup.ngram_jaccard.kept_frac": kept / n_cand if n_cand else 0.0,
                "canonicalize.connected_components.rounds": stats["rounds"],
                "curation.curate_corpus.self_s": whole.wall_s
                - sum(s.wall_s for s in (lsh, jac, cc, prefix)),
            }
        )

    def kg_stream(self, spark, wl: KgStream, src: Path) -> None:
        span, st, out = self.tracer.span, self.work / "stage-stream", self.work / "traced-stream"
        one_batch = [str(p) for p in sorted(src.glob("*.parquet"))[: wl.files_per_trigger]]
        with span("pipeline.extract_pipeline") as batch:
            extract_pipeline(
                spark.read.schema(PAGES_SCHEMA).parquet(*one_batch), use_html=True
            ).write.parquet(str(st / "batch_triples"))
        with span("streaming.stream_extract"):
            info = wl.run(spark, src, out)
        self._check(wl, out, info)
        d = info["durations_ms"]
        batch_s = statistics.median(x["triggerExecution"] for x in d) / 1000
        self.derived.update(
            {
                "streaming.batch_p50_s": batch_s,
                "streaming.add_batch_p50_ms": statistics.median(x["addBatch"] for x in d),
                "streaming.wal_commit_p50_ms": statistics.median(x["walCommit"] for x in d),
                "streaming.query_planning_p50_ms": statistics.median(x["queryPlanning"] for x in d),
                "streaming.latest_offset_p50_ms": statistics.median(x["latestOffset"] for x in d),
                "streaming.fixed_overhead_p50_s": batch_s - batch.wall_s,
            }
        )

    def finish(self, event_log_dir: Path) -> tuple[list[dict], dict]:
        """Attribute the (now complete) event log; build the per-layer metrics."""
        self.tracer.attribute(event_log_dir)
        values = dict(self.derived)
        values["sinks.run_resumable.input_scans"] = (
            self.tracer.inclusive(self.resumable_span)["input_records"] / self.snapshot_rows
        )
        units = per_layer_units()
        for key in units.keys() - values.keys():
            span, field = key.rsplit(".", 1)
            s = self.tracer.by_name(span)
            values[key] = s.wall_s if field == "wall_s" else self.tracer.inclusive(s)[field]
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        for p in self.problems:
            print(f"[perfbench] traced check failed: {p}", file=sys.stderr)
        result = {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return self.tracer.dump(), result
