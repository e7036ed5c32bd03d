"""The three workloads: their inputs, one pass through the product's public
entry points into the product sinks, and the independent output checks.

A pass always writes into a fresh ``out`` directory, so no pass can be
served from an earlier one. Checks read the written files with pyarrow,
outside Spark and outside the timed region.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from pathlib import Path

import duckdb
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_to_text_spark.fixtures import gold_triples_py
from rdf_to_text_spark.fixtures_web import data_curation_sql
from rdf_to_text_spark.operators.canonicalize import alias_clusters, canonical_entity_table
from rdf_to_text_spark.operators.curation import curate_corpus
from rdf_to_text_spark.operators.webtext import extract_triples_from_rich_html, latest_snapshot
from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable
from rdf_to_text_spark.sources.warc import read_warc
from rdf_to_text_spark.streaming.extract_stream import stream_extract

from . import inputs

TRIPLE_COLS = ["doc_id", "sent_idx", "subj", "pred", "obj"]
SHARD_TOKENS = 1000  # shard packing budget, as in data_curation_sql


def read_rows(path: Path, cols: list[str]) -> list[tuple]:
    """Rows of a parquet output dir (hive partitions and ``_``/``.`` files
    such as a stream sink's ``_spark_metadata`` are skipped)."""
    table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=cols
    )
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def multiset_digest(rows) -> tuple[int, str]:
    """(count, order-insensitive sha256) of a multiset of rows."""
    h = hashlib.sha256()
    n = 0
    for row in sorted(rows):
        h.update(repr(row).encode())
        n += 1
    return n, h.hexdigest()


def check_triples(got: list[tuple], gold: list[tuple], what: str) -> list[str]:
    if multiset_digest(got) == multiset_digest(gold):
        return []
    diff = (Counter(got) - Counter(gold)) + (Counter(gold) - Counter(got))
    return [f"{what}: {len(got)} rows vs {len(gold)} gold, {sum(diff.values())} differ"]


def alias_canonical_oracle(names: set[str]) -> set[tuple]:
    """Expected (canonical, surfaces) rows of canonical_entity_table over
    the given edge endpoints with ``alias_clusters``: surfaces ('_' shown
    as ' ') group by their lowercased, whitespace-squeezed pre-paren base
    (the full surface when that base is empty); the canonical is the
    group's minimum."""
    groups: dict[str, set[str]] = {}
    for name in names:
        surface = name.replace("_", " ")
        base = re.sub(r"\s+", " ", surface.split("(")[0].lower()).strip()
        key = base or re.sub(r"\s+", " ", surface.lower()).strip()
        groups.setdefault(key, set()).add(surface)
    return {(min(g), tuple(sorted(g))) for g in groups.values()}


class Workload:
    name: str
    why: str
    pages: int  # input rows of one pass (the pages_per_s numerator)
    # Untimed passes in set-up. A fresh JVM compiles Spark's engine and each
    # new query's generated code on its first passes: the first costs 3-4x
    # a steady one, and the JIT keeps taking CPU from the tasks for a few more.
    warmup_passes = 1
    # timed passes fill --seconds, but never fewer than this; the run
    # reports their median
    min_passes = 2

    def __init__(self, seed: int, scale: float):
        self.scale = scale

    def sized(self, n: int, floor: int = 200) -> int:
        return max(floor, int(n * self.scale))

    def generate(self, dest: Path) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        raise NotImplementedError

    def run(self, spark: SparkSession, src: Path, out: Path) -> dict:
        raise NotImplementedError

    def check(self, out: Path, info: dict) -> list[str]:
        raise NotImplementedError


class KgBuild(Workload):
    name = "kg_build"
    why = (
        "the crawl-to-KG product path (WARC, snapshot compaction, resumable "
        "chunked extraction sink, canonicalization); bypasses dedup"
    )

    warmup_passes = 2  # the first pass after the cold one still runs ~20% slow

    def __init__(self, seed: int, scale: float):
        super().__init__(seed, scale)
        self.ids = inputs.window(seed, self.sized(5_000))
        self.n_files = 8
        # see README "Time budget" for why not the job's default of 8
        self.n_chunks = 2
        self.records = 0

    def traffic(self) -> dict:
        return {
            "pages": len(self.ids),
            "captures_per_url": 1.2,
            "non_english_share": 1 / 20,
            "warc_files": self.n_files,
            "resumable_chunks": self.n_chunks,
        }

    def generate(self, dest: Path) -> None:
        self.records = inputs.write_crawl_warc(dest, self.ids, self.n_files)
        self.pages = len(self.ids)

    def prepare_oracle(self) -> None:
        self.gold = gold_triples_py(list(self.ids))
        names = {t[2] for t in self.gold} | {t[4] for t in self.gold}
        self.n_edges = len({t[2:] for t in self.gold})
        self.n_entities = len(names)
        self.canonical = alias_canonical_oracle(names)

    @staticmethod
    def captures(spark: SparkSession, src: Path) -> DataFrame:
        return read_warc(spark, f"{src}/*.warc.gz")

    @staticmethod
    def snapshot(captures: DataFrame) -> DataFrame:
        """Latest capture per url, with doc_id and lang read off the page."""
        return (
            latest_snapshot(captures)
            .drop("n_versions")
            .withColumn("doc_id", F.regexp_extract("url", r"/(\d{8,})$", 1).cast("long"))
            .withColumn(
                "lang",
                F.regexp_extract(F.decode("html", "utf-8"), '<html lang="([a-z]+)">', 1),
            )
        )

    def resumable(self, spark: SparkSession, pages: DataFrame, out: Path) -> list[dict]:
        return run_resumable(
            spark, pages, str(out / "sink"), n_chunks=self.n_chunks,
            extract=extract_triples_from_rich_html,
        )

    @staticmethod
    def edges_entities(spark: SparkSession, out: Path) -> None:
        sink = BucketedParquetMerge(spark, str(out / "sink"))
        sink.edges().write.parquet(str(out / "edges"))
        sink.entities().write.parquet(str(out / "entities"))

    @staticmethod
    def canonicalize(spark: SparkSession, out: Path) -> None:
        edges = spark.read.parquet(str(out / "edges"))
        surfaces = edges.select(F.col("subj").alias("surface")).unionByName(
            edges.select(F.col("obj").alias("surface"))
        )
        canonical_entity_table(
            surfaces.select(F.regexp_replace("surface", "_", " ").alias("surface")),
            clusterer=alias_clusters,
        ).write.parquet(str(out / "entities_canonical"))

    def run(self, spark: SparkSession, src: Path, out: Path) -> dict:
        self.resumable(spark, self.snapshot(self.captures(spark, src)), out)
        self.edges_entities(spark, out)
        self.canonicalize(spark, out)
        return {}

    def check(self, out: Path, info: dict) -> list[str]:
        bad = check_triples(read_rows(out / "sink" / "edges", TRIPLE_COLS), self.gold, "sink triples")
        n_edges = len(read_rows(out / "edges", ["subj"]))
        if n_edges != self.n_edges:
            bad.append(f"edges(): {n_edges} rows vs {self.n_edges} distinct gold triples")
        n_ent = len(read_rows(out / "entities", ["canonical"]))
        if n_ent != self.n_entities:
            bad.append(f"entities(): {n_ent} rows vs {self.n_entities} gold entities")
        canon = {
            (c, tuple(s))
            for c, s in read_rows(out / "entities_canonical", ["canonical", "surfaces"])
        }
        if canon != self.canonical:
            bad.append(f"canonical table: {len(canon)} rows vs {len(self.canonical)} expected")
        return bad


class Curate(Workload):
    name = "curate"
    why = (
        "the training-data path (quality gate, MinHash-LSH, Jaccard verify, "
        "connected components, sampling, packing); bypasses extraction and the sink"
    )

    warmup_passes = 2  # the first pass after the cold one still runs 15-25% slow

    def __init__(self, seed: int, scale: float):
        super().__init__(seed, scale)
        self.ids = inputs.window(seed, self.sized(3_000))
        self.n_files = 4

    def traffic(self) -> dict:
        return {
            "pages": len(self.ids),
            "mirror_share": 1 / 7,
            "non_english_share": 1 / 20,
            "input_files": self.n_files,
        }

    def generate(self, dest: Path) -> None:
        self.pages = inputs.write_curation_docs(dest, self.ids, self.n_files)

    def prepare_oracle(self) -> None:
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE TABLE documents AS SELECT range AS doc_id "
                f"FROM range({self.ids.start}, {self.ids.stop})"
            )
            rows = con.execute(
                data_curation_sql(budget=SHARD_TOKENS, mirror_base=inputs.ID_SPACE)
            ).fetchall()
        finally:
            con.close()
        self.expected = sorted(tuple(r) for r in rows)

    @staticmethod
    def texts(spark: SparkSession, src: Path) -> DataFrame:
        # the lang gate sits upstream of curate_corpus (it reads page metadata)
        return (
            spark.read.parquet(str(src))
            .filter(F.col("lang") == "en")
            .select("doc_id", "text")
        )

    @staticmethod
    def pack(curated: DataFrame) -> DataFrame:
        return curated.select(
            "doc_id",
            F.col("n_bpe").cast("int").alias("n_bpe_tokens"),
            "bucket",
            ((F.col("cum") - F.col("n_bpe")) / SHARD_TOKENS).cast("long").alias("shard"),
        )

    def run(self, spark: SparkSession, src: Path, out: Path) -> dict:
        cleanup: list = []
        try:
            self.pack(curate_corpus(self.texts(spark, src), cleanup=cleanup)).write.parquet(
                str(out / "curated_shards")
            )
        finally:
            for handle in cleanup:
                handle.unpersist()
        return {}

    def check(self, out: Path, info: dict) -> list[str]:
        got = sorted(
            read_rows(out / "curated_shards", ["doc_id", "n_bpe_tokens", "bucket", "shard"])
        )
        if got == self.expected:
            return []
        return [f"curated shards: {len(got)} rows vs {len(self.expected)} from the DuckDB oracle"]


class KgStream(Workload):
    name = "kg_stream"
    why = (
        "the extraction layer in ~2k-page micro-batches, where fixed per-batch "
        "cost matters; bypasses the WARC reader, the sink and dedup"
    )

    def __init__(self, seed: int, scale: float):
        super().__init__(seed, scale)
        self.n_files = 16
        self.files_per_trigger = 2
        self.ids = inputs.window(seed, self.n_files * self.sized(1_000, floor=20))

    def traffic(self) -> dict:
        return {
            "pages": len(self.ids),
            "non_english_share": 1 / 20,
            "input_files": self.n_files,
            "files_per_trigger": self.files_per_trigger,
            "micro_batches": self.n_files // self.files_per_trigger,
        }

    def generate(self, dest: Path) -> None:
        self.pages = inputs.write_plain_pages(dest, self.ids, self.n_files)

    def prepare_oracle(self) -> None:
        self.gold = gold_triples_py(list(self.ids))

    def run(self, spark: SparkSession, src: Path, out: Path) -> dict:
        query = stream_extract(
            spark, str(src), str(out / "triples"), str(out / "checkpoint"),
            trigger_once=True, max_files_per_trigger=self.files_per_trigger,
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        batches = [p for p in query.recentProgress if p.numInputRows > 0]
        return {"durations_ms": [p.durationMs for p in batches]}

    def check(self, out: Path, info: dict) -> list[str]:
        bad = check_triples(read_rows(out / "triples", TRIPLE_COLS), self.gold, "stream triples")
        want = self.n_files // self.files_per_trigger
        if len(info["durations_ms"]) != want:
            bad.append(f"{len(info['durations_ms'])} micro-batches vs {want}")
        return bad


WORKLOADS = {w.name: w for w in (KgBuild, Curate, KgStream)}
