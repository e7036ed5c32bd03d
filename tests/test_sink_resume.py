"""Resumable MERGE sink: idempotence + exact resume (north_rule)."""

import glob
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rdf_to_text_spark import fixtures
from rdf_to_text_spark.pipeline import extract_pipeline
from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="kgsink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _edge_set(sink):
    return {(r.subj, r.pred, r.obj) for r in sink.edges().select("subj", "pred", "obj").collect()}


def test_full_run_then_resume_is_idempotent(spark, base_dir):
    pages = fixtures.pages_from_documents(spark, "/root/testdata/sf0.001")
    res = run_resumable(spark, pages, base_dir, n_chunks=4)
    assert sorted(r["chunk_id"] for r in res) == [0, 1, 2, 3]
    sink = BucketedParquetMerge(spark, base_dir)
    edges_before = _edge_set(sink)

    # simulate a crash that lost the last two chunk commits
    for p in glob.glob(f"{base_dir}/lineage/chunk=2") + glob.glob(f"{base_dir}/lineage/chunk=3"):
        shutil.rmtree(p)
    res2 = run_resumable(spark, pages, base_dir, n_chunks=4)
    assert sorted(r["chunk_id"] for r in res2) == [2, 3]

    assert edges_before == _edge_set(sink)  # exact resume, no dupes

    # a fully-committed job is a no-op on re-run
    assert run_resumable(spark, pages, base_dir, n_chunks=4) == []


def test_lineage_metrics_rows(spark, base_dir):
    pages = fixtures.pages_from_documents(spark, "/root/testdata/sf0.001")
    run_resumable(spark, pages, base_dir, n_chunks=2)
    sink = BucketedParquetMerge(spark, base_dir)
    rows = sink.lineage().collect()
    assert len(rows) == 2
    assert all(r.n_pages > 0 and r.n_triples > 0 and r.wall_sec > 0 for r in rows)
    # entity table derives from edges with stable ids
    ents = sink.entities()
    assert ents.count() == ents.select("entity_id").distinct().count()


def test_corrupt_lineage_raises(spark, base_dir):
    """Only a MISSING lineage dir means "nothing committed"; an unreadable
    one must fail the job, not silently re-run and overwrite every chunk."""
    pages = fixtures.pages_from_range(spark, 200)
    os.makedirs(f"{base_dir}/lineage")
    with open(f"{base_dir}/lineage/part-00000.parquet", "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception, match="(?i)footer"):
        run_resumable(spark, pages, base_dir, n_chunks=2)
    assert not os.path.exists(f"{base_dir}/edges")


def test_failed_chunk_in_pool_resumes_exactly(spark, base_dir):
    """Fault injection inside the concurrent chunk pool: one chunk's job
    fails; every other chunk still commits, the staging dir is removed,
    and a rerun executes only the failed chunk and ends equal to a clean
    run."""
    pages = fixtures.pages_from_range(spark, 200)

    def failing_extract(df):
        boom = F.when(F.pmod("doc_id", F.lit(4)) == 2, F.raise_error(F.lit("injected")))
        return extract_pipeline(df.filter(boom.otherwise(F.lit(True))), use_html=True)

    with pytest.raises(Exception, match="injected"):
        run_resumable(spark, pages, base_dir, n_chunks=4, extract=failing_extract)
    sink = BucketedParquetMerge(spark, base_dir)
    assert sorted(r.chunk_id for r in sink.lineage().collect()) == [0, 1, 3]
    assert not os.path.exists(f"{base_dir}/_staging")

    res = run_resumable(spark, pages, base_dir, n_chunks=4)
    assert [r["chunk_id"] for r in res] == [2]
    assert not os.path.exists(f"{base_dir}/_staging")

    clean_dir = tempfile.mkdtemp(prefix="kgsink_clean_")
    try:
        run_resumable(spark, pages, clean_dir, n_chunks=4)
        assert _edge_set(sink) == _edge_set(BucketedParquetMerge(spark, clean_dir))
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)


def test_chunk_files_are_bucket_sorted(spark, base_dir):
    """One file per chunk task, rows sorted by their subject hash bucket:
    `bucket` is a column inside the chunk files, not a directory level."""
    run_resumable(spark, fixtures.pages_from_range(spark, 200), base_dir, n_chunks=2)
    assert sorted(glob.glob("chunk=*", root_dir=f"{base_dir}/edges")) == ["chunk=0", "chunk=1"]
    assert not glob.glob(f"{base_dir}/edges/chunk=*/bucket=*")

    edges = spark.read.parquet(f"{base_dir}/edges")
    assert edges.count() > 0
    assert edges.filter(F.col("bucket") != F.pmod(F.xxhash64("subj"), F.lit(16))).count() == 0

    files = glob.glob(f"{base_dir}/edges/chunk=*/*.parquet")
    assert files
    for path in files:
        buckets = pq.read_table(path, columns=["bucket"]).column("bucket").to_pylist()
        assert buckets == sorted(buckets), path


def test_chunk_jobs_carry_callers_job_group(spark, base_dir):
    """The chunk pool's jobs inherit the caller's job group, so every job
    run_resumable starts can be found (and cancelled) by that group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pages = fixtures.pages_from_range(spark, 200)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("resumable-under-test", "run_resumable job group")
    try:
        run_resumable(spark, pages, base_dir, n_chunks=2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("resumable-under-test")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def _sql_plans(spark, action) -> list[str]:
    """Physical plans of the SQL executions that `action` runs."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    before = set(executions())
    action()
    return [e.physicalPlanDescription() for i, e in sorted(executions().items()) if i not in before]


def test_lineage_frames_scan_locally(spark, base_dir):
    """A fresh sink's empty committed-chunks frame and the lineage row
    are Arrow local relations, not Python RDD scans."""
    sink = BucketedParquetMerge(spark, base_dir)
    fresh = sink.committed_chunks()._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in fresh and "ExistingRDD" not in fresh

    triples = spark.range(3).selectExpr("CAST(id AS STRING) AS subj", "'p' AS pred", "'o' AS obj")
    plans = _sql_plans(spark, lambda: sink.write_chunk(0, triples, 3))
    lineage = [p for p in plans if f"{base_dir}/lineage" in p]
    assert len(lineage) == 1, plans
    assert "LocalTableScan" in lineage[0] and "ExistingRDD" not in lineage[0]
    rows = sink.lineage().select("chunk_id", "n_pages", "n_triples", "n_dropped").collect()
    assert [tuple(r) for r in rows] == [(0, 3, 3, 0)]
