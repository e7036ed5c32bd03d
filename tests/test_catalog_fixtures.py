"""The catalog's fixture dirs and release path: the flagship does its
extraction on every call, and releasing persist handles swallows only
py4j failures."""

import pytest
from py4j.protocol import Py4JError

from rdf_to_text_spark import queries_catalog

SF = "/root/testdata/sf0.001"


def test_flagship_plan_runs_extraction_not_a_cache_scan(spark):
    df = queries_catalog.kg_extract_triples(spark, SF)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_release_caches_propagates_errors_other_than_py4j():
    class Gone:
        def unpersist(self):
            raise Py4JError("session is gone")

    class Broken:
        def unpersist(self):
            raise ValueError("not a py4j failure")

    released = []

    class Fine:
        def unpersist(self):
            released.append(self)

    try:
        # popped last-in first: Gone is skipped, Broken raises
        queries_catalog._CLEANUPS.extend([Fine(), Broken(), Gone()])
        with pytest.raises(ValueError, match="not a py4j failure"):
            queries_catalog.release_caches()
        queries_catalog.release_caches()
        assert len(released) == 1 and not queries_catalog._CLEANUPS
    finally:
        queries_catalog._CLEANUPS.clear()
