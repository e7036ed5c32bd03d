"""Session defaults that depend on the host, and driver-side frames."""

import ast
import os
from pathlib import Path

import pandas as pd
import pytest

from rdf_to_text_spark.session import DRIVER_MEMORY_CAP_MB, driver_memory, local_frame
from rdf_to_text_spark.sinks.merge import LINEAGE_SCHEMA

ROOT = Path(__file__).resolve().parents[1]


def test_driver_memory_default_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = driver_memory()
    assert got.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(got[:-1]) <= min(phys_mb, DRIVER_MEMORY_CAP_MB)


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"


def _scans_locally(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


# every column type the package builds driver-side frames with
ALL_TYPES = "a long, b int, c double, d string, e array<double>"
ALL_TYPES_ROWS = [
    (1, 2, 0.5, "x", [1.0, None]),
    (None, None, None, None, None),
    (-(2**40), -3, 2.25, "", []),
]


@pytest.mark.parametrize(
    "rows, schema",
    [
        (ALL_TYPES_ROWS, ALL_TYPES),
        ([], ALL_TYPES),
        ([(0, 3, 5, 0, 0.25)], LINEAGE_SCHEMA),
        ([(2, 1), (3, 1)], "node long, component long"),
        ([(0, [0.5, -1.0])], "cell int, center array<double>"),
        ([("<pad>", 0, 0)], "word string, cnt long, vocab_id int"),
    ],
    ids=["all-types", "all-types-empty", "lineage", "components", "centroids", "vocab"],
)
def test_local_frame_equals_list_frame(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    assert _scans_locally(got)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("n", [2, 0])
def test_local_frame_from_pandas_takes_columns_by_position(spark, n):
    pdf = pd.DataFrame({"x": [1.0, None][:n], "y": ["a", None][:n]})
    got = local_frame(spark, pdf, "n long, s string")
    assert _scans_locally(got)
    want = spark.createDataFrame(pdf, "n long, s string")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_rows_of_the_wrong_width(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [(1, 2), (3,)], "a long, b long")


def test_no_list_built_frames_outside_local_frame():
    """Every driver-side frame of the package and its jobs goes through
    `local_frame`; a `createDataFrame(` anywhere else is a Python RDD
    scan with its own worker pool."""
    session = ROOT / "rdf_to_text_spark" / "session.py"
    helper = next(
        node
        for node in ast.parse(session.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
    )
    hits = []
    for path in sorted([*ROOT.glob("rdf_to_text_spark/**/*.py"), *ROOT.glob("jobs/**/*.py")]):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            inside = path == session and helper.lineno <= i <= helper.end_lineno
            if "createDataFrame(" in line and not inside:
                hits.append(f"{path.relative_to(ROOT)}:{i}")
    assert hits == []
