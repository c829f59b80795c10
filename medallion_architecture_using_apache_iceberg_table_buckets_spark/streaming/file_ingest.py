"""Streaming ingestion: the idiomatic-Spark replacement for the
reference's hand-rolled incremental machinery (SURVEY.md §2.9).

``stream_raw_to_bronze``: Structured Streaming file source +
``Trigger.AvailableNow`` + checkpoint dir. This subsumes the
reference's ``IncrementalFileProcessor`` (scripts/raw-bronze.py:
16-99): file discovery, the listing/commit race (T1), and the
at-least-once checkpoint protocol (T2) are all handled by the
engine's write-ahead file-source log. Each micro-batch gets the batch
path's lineage columns (``pipeline.ingest.enrich_for_bronze``) and is
appended to the bronze lakehouse table inside ``foreachBatch``; the
bronze->silver hop is ``pipeline.cdc.bronze_to_silver`` for both.

Scale: the file source scales to millions of files (compaction via
maxFilesPerTrigger).
"""

from __future__ import annotations

from pathlib import Path
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakehouse import Catalog
from ..pipeline.ingest import enrich_for_bronze


def stream_raw_to_bronze(
    spark: SparkSession,
    catalog: Catalog,
    input_dir: str | Path,
    namespace: str,
    table_name: str,
    checkpoint_dir: str | Path,
    schema: T.StructType,
    sep: str = "\t",
    partition_by: Sequence[str] = ("processed_date",),
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain all currently-available raw files into bronze; returns the
    number of micro-batches executed.

    The file source requires an explicit schema (the scale-correct
    choice anyway — no inference pass). AvailableNow processes the
    backlog then stops, exactly like one run of the reference's batch
    job but with exactly-once file tracking.
    """
    batches = {"n": 0}

    reader = (
        spark.readStream.format("csv")
        .option("sep", sep)
        .option("header", "true")
        .schema(schema)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(str(input_dir))

    def sink(batch_df, batch_id: int) -> None:
        catalog.write(
            namespace, table_name,
            batch_df.withColumn("ingest_seq", F.lit(batch_id).cast("long")),
            partition_by=tuple(partition_by),
            properties={"write.parquet.compression-codec": "snappy"},
        )
        batches["n"] += 1

    q = (
        enrich_for_bronze(stream).writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]
