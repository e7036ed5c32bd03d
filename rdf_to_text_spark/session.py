"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join on,
Arrow on, partition coalescing on); tests run the same configs on
``local[N]``.

The generated-code cache is raised from Spark's 100 entries to 2000. A
warm crawl→KG pass uses more than 100 distinct generated classes, so at
the default every pass evicted and recompiled (then re-JITed) 60-85
of them; at 200 and above a warm pass of the crawl→KG and curation paths
compiles none. 2000 leaves room for a session that runs many query
shapes, such as the catalog benchmark; a cached class costs memory only
once it has been generated.

The driver heap defaults to half of physical memory, capped at 24g, so
local mode never asks for a heap the host cannot back.

Small driver-side frames (lineage rows, constant tables, driver-side
finishes) are built with :func:`local_frame`, never from a Python list.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DRIVER_MEMORY_CAP_MB = 24 * 1024


def driver_memory() -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEMORY if set, else half of
    physical memory (the Python workers and the JVM's off-heap memory
    need the rest), capped at 24g."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(DRIVER_MEMORY_CAP_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "rdf_to_text_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow both ways: pandas UDFs and toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Shuffle width: AQE coalesces down at runtime; this is the ceiling.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))),
        )
        # Keep scans right-sized: at 100 TB this yields ~800k input splits,
        # each a comfortable 128 MB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: alias dictionaries / vocab tables are
        # dictionary-sized; let AQE upgrade joins aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Crawl timestamps are UTC instants (WARC-Date, sitemap lastmod);
        # pin the session zone so wall-clock parse/format round-trips are
        # host-timezone-invariant. Catalog queries additionally parse
        # offsets explicitly (pattern XXX) so they stay correct even
        # under a driver-created session without this pin.
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: the driver IS the executor — size the heap for all
        # concurrent task buffers (measured: 8g chokes GC at 32 tasks of
        # Arrow traffic, halving throughput; 24g restores linear scaling).
        .config("spark.driver.memory", driver_memory())
        # Hold a whole pass's generated classes (see the module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    builder = builder.master(master or f"local[{cpus}]")
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: "str | StructType") -> DataFrame:
    """A small driver-side frame as an Arrow-backed ``LocalRelation``.

    `rows` is a sequence of tuples (positional, like
    ``spark.createDataFrame(rows, schema)``) or a pandas DataFrame, whose
    columns are also taken by position; `schema` is a DDL string or a
    StructType.

    Why not ``spark.createDataFrame(rows, schema)``: a list-built frame
    (and an empty pandas one) is planned as ``Scan ExistingRDD`` over a
    Python RDD, so every action on it starts Python workers from a
    second ``pyspark.daemon`` pool, apart from the one the session's
    Arrow UDFs use (~0.4 s of Python CPU per action, and the pool's
    resident memory for the rest of the session). A ``pyarrow.Table``
    goes to the JVM once and is planned as ``LocalTableScan``, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    n = len(struct.fields)
    is_pandas = isinstance(rows, pd.DataFrame)
    if is_pandas:
        if rows.shape[1] != n:
            raise ValueError(f"{rows.shape[1]} columns for a {n}-field schema")
        columns = [rows.iloc[:, i] for i in range(n)]
    else:
        rows = list(rows)
        if any(len(r) != n for r in rows):
            raise ValueError(f"every row must have {n} fields")
        columns = [[r[i] for r in rows] for i in range(n)]
    # pandas NaN/None are nulls, as on Spark's own Arrow path; a list's NaN stays NaN
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type, from_pandas=is_pandas) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
