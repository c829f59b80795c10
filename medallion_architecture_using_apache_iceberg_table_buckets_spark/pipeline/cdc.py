"""Bronze -> Silver: snapshot-range CDC read, dedup, MERGE upsert.

Engine equivalent of the reference's bronze->silver job
(scripts/bronze-silver.py:222-305):

- latest-snapshot lookup from the history metadata table, top-1 by
  commit time (O1 — scripts/bronze-silver.py:137-141);
- no-new-data short-circuit when the latest snapshot equals the
  checkpoint (T4 — :143-145);
- snapshot-range incremental read of bronze (S7 — :149-152);
- keep-latest-per-key window dedup (``operators.window_ops``):
  ``ROW_NUMBER() OVER (PARTITION BY <key> ORDER BY <order> DESC) = 1``
  (W1 — :258-266). The reference orders by the bronze ingestion time
  ``processed_time``; both key and order columns are parameters here
  (SURVEY.md §2.5 note). A deterministic tie-break on the remaining
  order columns can be supplied via ``order_by``;
- MERGE INTO the silver table on the natural key (J1 — :254-269),
  creating it first from a declared schema if missing (S12 —
  :169-207);
- snapshot-id checkpoint saved only after the merge commits (S9 —
  :299-301).
"""

from __future__ import annotations

from pathlib import Path
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..lakehouse import Catalog, merge_into
from ..operators.window_ops import keep_latest_per_key
from .checkpoint import JsonCheckpoint


def bronze_to_silver(
    spark: SparkSession,
    catalog: Catalog,
    namespace: str,
    bronze_table: str,
    silver_table: str,
    checkpoint_path: str | Path,
    key: str | Sequence[str] = "invoiceid",
    order_by: Sequence[str] = ("processed_time", "ingest_seq"),
    silver_schema: T.StructType | None = None,
    silver_partition_by: Sequence[str] = (),
    delete_predicate: str | None = None,
) -> dict:
    """One incremental bronze->silver run. Returns a status dict.

    ``silver_schema`` (a declared schema, e.g. translated from Avro
    via schema.avro_schema_to_spark_schema) controls which columns
    reach silver — the reference's silver schema drops the CDC ``Op``
    and bronze lineage columns (FIXTURES.md §3). Defaults to the
    bronze schema minus ``Op``/``input_file``/``processed_time``/
    ``processed_date`` when omitted.
    """
    keys = [key] if isinstance(key, str) else list(key)
    ckpt = JsonCheckpoint(checkpoint_path)
    bronze = catalog.table(namespace, bronze_table)

    latest = bronze.latest_snapshot_id()
    state = ckpt.load()
    last_processed = state["last_processed_snapshot"] if state else None
    if last_processed == latest:
        return {"status": "no_new_data", "snapshot": latest, "merged_rows": 0}

    changes = bronze.read_incremental(spark, start_snapshot_id=last_processed)

    if silver_schema is None:
        dropped = {"Op", "input_file", "processed_date", "processed_time", "ingest_seq"}
        silver_schema = T.StructType(
            [f for f in bronze.schema.fields if f.name not in dropped]
        )

    deduped = keep_latest_per_key(changes, keys, list(order_by))

    if not catalog.table_exists(namespace, silver_table):
        catalog.create_table(
            namespace,
            silver_table,
            silver_schema,
            partition_by=silver_partition_by,
            properties={"format-version": "2", "write.parquet.compression-codec": "snappy"},
        )
    silver = catalog.table(namespace, silver_table)
    merge_into(spark, silver, deduped, on=keys, delete_predicate=delete_predicate)
    ckpt.commit({"last_processed_snapshot": latest})
    return {"status": "merged", "snapshot": latest}
