"""Idempotent graph materialization + per-partition lineage (resumability).

north_rule: canonical (subj, pred, obj) triples are MERGEd into entity
and edge tables partitioned by subject hash bucket; per-partition
lineage + metrics rows make the job exactly resumable.

The sink is :class:`BucketedParquetMerge`: one Hive-style ``chunk``
partition per input chunk, written with dynamic partition-overwrite,
which gives the idempotence of a ``MERGE INTO`` on (subj, pred, obj):
re-running a chunk replaces exactly its own ``chunk=<k>`` directory,
never duplicating rows, because a chunk's triples are a deterministic
function of its pages. The subject hash bucket
``pmod(xxhash64(subj), n_buckets)`` is a column, not a directory level:
each write task emits one file whose rows are sorted by ``bucket``, so
at scale a ``bucket = k`` reader can skip row groups by their min/max
statistics, while a chunk costs one file per task instead of one per
(task, bucket).

Resumability protocol (reference analog: best-checkpoint save/restore,
`main_PG.py:210-218`; skip-counter lineage, `build_dataset.py:269-272`):
  1. the driver stages the pages of uncommitted chunks once, as parquet
     partitioned by ``chunk_id = pmod(doc_id, n)`` under ``base/_staging``;
  2. each chunk job reads its own partition and commits its triples,
     then a lineage row ``(chunk_id, n_pages, n_triples, n_dropped,
     wall_sec)`` under ``lineage/chunk=<k>``; the row is built on the
     driver as an Arrow local relation (``session.local_frame``), so
     writing it starts no Python workers;
  3. on restart, committed chunks are left out of staging → only
     unfinished chunks re-run; re-running a finished chunk is a no-op
     overwrite of identical data.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

LINEAGE_SCHEMA = "chunk_id long, n_pages long, n_triples long, n_dropped long, wall_sec double"


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path`, for any scheme Spark can read."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


class BucketedParquetMerge:
    """Parquet fallback with MERGE-equivalent idempotence.

    Triples land under ``base/edges/chunk=<id>/`` (dynamic partition
    overwrite), one file per write task with rows sorted by the
    ``bucket`` column; the canonical edge table is the union of chunk
    partitions deduped on (subj, pred, obj) at read time via a view.
    Because chunk contents are a deterministic function of the input
    chunk, re-writing a chunk is idempotent.
    """

    def __init__(self, spark: SparkSession, base: str, n_buckets: int = 16):
        self.spark = spark
        self.base = base
        self.n_buckets = n_buckets
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # ---------------------------------------------------------- lineage
    def committed_chunks(self) -> DataFrame:
        """Only a missing lineage dir means "none committed" (an empty
        local frame); any other read error propagates rather than
        re-running every chunk."""
        fs, path = _hadoop_path(self.spark, f"{self.base}/lineage")
        if not fs.exists(path):
            return local_frame(self.spark, [], "chunk_id long")
        return self.lineage().select("chunk_id").distinct()

    # ------------------------------------------------------------ write
    def write_chunk(
        self, chunk_id: int, triples: DataFrame, n_pages: "int | Observation"
    ) -> dict:
        """Commit one chunk: triples partition + lineage row.

        The lineage row's n_triples comes from an `observe` metric
        collected DURING the write — never from a separate `count()`,
        which would re-execute the whole extraction stage per chunk
        (at scale that doubles the dominant cost of the job).
        `n_pages` may likewise be an Observation planted on the chunk's
        input DataFrame; it is read after the same single pass.

        The lineage row is a `local_frame`, a ``LocalTableScan``: a
        list-built row would be a Python RDD whose write runs Python
        workers from a second daemon pool."""
        t0 = time.time()
        obs = Observation(f"chunk_{chunk_id}_triples")
        out = (
            triples.observe(obs, F.count(F.lit(1)).alias("n_triples"))
            .withColumn("chunk", F.lit(chunk_id))
            .withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(self.n_buckets)))
        )
        # sorting on the partition column first satisfies the writer's
        # required ordering, so it keeps the bucket order instead of
        # re-sorting each task's rows on `chunk` alone
        (
            out.sortWithinPartitions("chunk", "bucket")
            .write.mode("overwrite")
            .partitionBy("chunk")
            .parquet(f"{self.base}/edges")
        )
        n_triples = obs.get["n_triples"]
        if isinstance(n_pages, Observation):
            n_pages = n_pages.get["n_pages"]
        wall = time.time() - t0
        row = [(chunk_id, n_pages, n_triples, 0, wall)]
        local_frame(self.spark, row, LINEAGE_SCHEMA).withColumn(
            "chunk", F.lit(chunk_id)
        ).write.mode("overwrite").partitionBy("chunk").parquet(f"{self.base}/lineage")
        return {"chunk_id": chunk_id, "n_pages": n_pages, "n_triples": n_triples, "wall_sec": wall}

    # ------------------------------------------------------------- read
    def edges(self) -> DataFrame:
        """Canonical edge view: chunk partitions deduped on the key."""
        return (
            self.spark.read.parquet(f"{self.base}/edges")
            .dropDuplicates(["subj", "pred", "obj"])
        )

    def entities(self) -> DataFrame:
        """Entity table: the distinct subject and object names of the
        chunk files (id = stable hash of name). Names are taken straight
        from the files, since deduplicating (subj, pred, obj) first, as
        `edges` does, cannot change the set of names."""
        names = (
            self.spark.read.parquet(f"{self.base}/edges")
            .select(F.explode(F.array("subj", "obj")).alias("canonical"))
            .distinct()
        )
        return names.withColumn("entity_id", F.abs(F.xxhash64("canonical")))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.base}/lineage")


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    n_chunks: int = 4,
    extract=None,
) -> list[dict]:
    """Chunked, resumable extraction job: pmod(doc_id) chunks → extract →
    commit (triples + lineage). Already-committed chunks are skipped.

    Stage once: pending pages are written as parquet partitioned by
    ``chunk_id`` under ``{base}/_staging`` (an observe on that write
    yields the planned ids) and each chunk job reads only its
    ``chunk_id=<k>`` partition, so the plan of `pages` runs once per
    call. ``_staging`` is removed at the start and in a ``finally``.

    CONTRACT for a custom `extract` (ADVICE r2): it must be a pure plan
    transformation — no intermediate actions (count/isEmpty/cache-warm
    collect) on its input. The per-chunk `n_pages` Observation below is
    consumed by the FIRST action that executes the observed plan; an
    early action inside `extract` would freeze `n_pages` from that
    partial job instead of the chunk write, silently corrupting lineage
    rows. Trade-off, also deliberate: the observe node sits above the
    staged-partition scan, which blocks pushing a lang/category filter
    INSIDE `extract` down into the scan (observe is a pushdown barrier)
    — put input filters on `pages` before calling run_resumable so
    n_pages counts exactly what the chunk processed.
    """
    from ..pipeline import extract_pipeline

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    extract = extract or (lambda df: extract_pipeline(df, use_html=True))
    sink = BucketedParquetMerge(spark, base)
    done = [r.chunk_id for r in sink.committed_chunks().collect()]
    staging = f"{base}/_staging"
    fs, staging_path = _hadoop_path(spark, staging)
    fs.delete(staging_path, True)
    try:
        planned = Observation("planned_chunks")
        (
            pages.withColumn("chunk_id", F.pmod(F.col("doc_id"), F.lit(n_chunks)))
            .filter(~F.col("chunk_id").isin(done))
            .observe(planned, F.collect_set("chunk_id").alias("chunk_ids"))
            .write.partitionBy("chunk_id")
            .parquet(staging)
        )
        todo = sorted(planned.get["chunk_ids"])

        def _one(cid: int) -> dict:
            spark.sparkContext.setJobDescription(f"resumable chunk {cid}")
            # n_pages rides the same single pass as the chunk write: an
            # observe node below the extraction counts the chunk's input
            # rows while they stream through — no second scan.
            pages_obs = Observation(f"chunk_{cid}_pages")
            # the known schema spares a footer-inference job per chunk
            part = spark.read.schema(pages.schema).parquet(f"{staging}/chunk_id={cid}")
            part = part.observe(pages_obs, F.count(F.lit(1)).alias("n_pages"))
            return sink.write_chunk(cid, extract(part), pages_obs)

        # Overlap the independent chunk jobs (guide §2.6): each chunk is a
        # separate scan→extract→write action whose tail would otherwise
        # leave the cluster idle; dynamic partition overwrite stages every
        # job under its own .spark-staging-<jobId> dir and each chunk
        # commits disjoint chunk=<id>/ partition dirs, so concurrent chunk
        # writes never touch the same destination. Job descriptions are
        # thread-local, so the UI labels each chunk correctly. Result
        # order stays chunk-id-sorted (futures are read in input order).
        # A failed chunk raises only after the pool has drained, so every
        # other chunk still commits before ``_staging`` goes.
        # Each chunk's target is wrapped here, in the caller's thread, so
        # its jobs carry the caller's job group, tags and local
        # properties; one wrap per chunk gives each its own copy of the
        # properties, which `_one`'s description then overrides.
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(_one), cid) for cid in todo]
            return [f.result() for f in futures]
    finally:
        fs.delete(staging_path, True)
