"""SparkSession factory.

Reference parity: scripts/raw-bronze.py:102-116 and
scripts/bronze-silver.py:60-75 build a session wired to an Iceberg
``SparkCatalog`` backed by AWS S3 Table Buckets. This engine keeps
the same shape — one factory, one pluggable warehouse location — but
targets a local/offline deployment: tables live in a warehouse
directory managed by :mod:`..lakehouse` (Iceberg-style snapshot
manifests over Parquet; no proprietary services).

Scale notes (100 TB / 1000-executor design intent):
- AQE is on: runtime coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count
  (env ``SPARK_GRAFT_CPUS``); on a real cluster AQE coalesces from
  a high initial number, so this is a floor not a ceiling.
- Arrow is enabled for the (rare) Pandas-UDF paths so Python
  exchange is columnar, never row-at-a-time pickling.
- Files a manifest names are listed on the driver, never by a Spark
  listing job (``LISTING_THRESHOLD``), and driver-side rows become a
  DataFrame through Arrow (:func:`local_frame`): neither costs a job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# spark.sql.sources.parallelPartitionDiscovery.threshold: above this
# many paths Spark lists (stats) them in a distributed job. Table reads
# pass the files their manifest names, so that job only repeats what
# the manifest already knows. Measured on a 4-core box with local
# files (best of 3 schema-given reads): a listing job took 605, 2,575
# and 8,906 ms at 64, 630 and 2,534 files; driver-side listing took
# 63, 137 and 376 ms. Never start the job. On an object store with
# per-call latency the driver pays one round trip per file, which
# moves the break-even down.
LISTING_THRESHOLD = 2147483647


def get_spark(
    app_name: str = "medallion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Parameters mirror the reference's ``create_spark_session``
    (scripts/raw-bronze.py:102-116) minus the AWS-specific catalog
    wiring; catalog state is handled by ``lakehouse.Catalog``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce post-shuffle partitions, split skewed joins,
        # convert sort-merge to broadcast at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: build a bloom filter from the
        # selective side of large joins and push it into the probe
        # scan — at 100 TB this skips row groups the join would
        # discard anyway (explicit: the default has flipped across
        # Spark minors).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Columnar Python exchange for pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: vectorized reader + pushdown are Spark defaults;
        # keep timestamps deterministic across engines/oracles.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # int64 micros, as the Iceberg spec mandates — INT96 (Spark's
        # legacy default) carries no footer min/max, which would make
        # timestamp columns invisible to manifest file skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_THRESHOLD),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in field order) with
    ``schema`` (a ``StructType`` or a DDL string).

    The rows travel as one ``pyarrow.Table``, so no Python-worker task
    runs when the frame is read (``createDataFrame`` over a Python list
    pickles the rows and decodes them in a Python-worker job). Each row
    first passes the type check ``createDataFrame`` applies to Python
    rows, so whatever it rejects still raises here.
    """
    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    rows = list(rows)
    verify = T._make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(struct)
    columns = zip(*rows) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def scan_files(df: DataFrame) -> list[str]:
    """Paths of the data files that the file scans in ``df``'s physical
    plan select after partition pruning: the files a run reads, which
    its ``numFiles`` scan metric counts. Plans ``df`` and starts no
    job; a later run of the same ``df`` reports ``numFiles`` 0."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        if p.nodeName() == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif p.getClass().getSimpleName() == "FileSourceScanExec":
            for d in p.selectedPartitions().partitionDirectories():
                files = d.files()
                out += [
                    files.apply(j).getPath().toString()
                    for j in range(files.size())
                ]
        else:
            kids = p.children()
            todo += [kids.apply(i) for i in range(kids.size())]
    return sorted(out)
