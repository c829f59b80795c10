"""Golden acceptance test — the reference's end-to-end CDC scenario.

Replays the insert-then-update medallion flow and asserts the exact
golden outputs captured in the reference notebook
(local-notebooks/s3tablebuckets.ipynb:288,294,324-325; FIXTURES.md §4):
bronze=7 rows, silver=5 rows, updated categories win.
"""

import time

import pytest

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import (
    MedallionPipeline,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.schema import (
    avro_schema_to_spark_schema,
)

HEADER = "Op\treplicadmstimestamp\tinvoiceid\titemid\tcategory\tprice\tquantity\torderdate\tdestinationstate\tshippingtype\treferral"

BATCH_1 = [  # FIXTURES.md §1 batch 1 — 5 inserts
    "I\t2024-02-16 15:30:41.041474\t24137\t34\tdegree\t53.51\t1\t2023-03-29\tSC\t3-Day\tbook",
    "I\t2024-08-20 17:16:03.213831\t15587\t59\tbit\t40.94\t5\t2022-07-16\tPW\t3-Day\tmanagement",
    "I\t2024-10-28 20:02:37.424182\t42918\t69\tschool\t27.23\t3\t2024-04-29\tCT\t2-Day\ttrouble",
    "I\t2024-06-27 14:36:25.103244\t40994\t67\tmarket\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "I\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage\t97.07\t3\t2021-09-10\tSC\tStandard\tplay",
]

BATCH_2 = [  # batch 2 — 2 updates, category suffixed ####
    "U\t2024-06-27 14:36:25.103244\t40994\t67\tmarket####\t92.02\t1\t2021-05-21\tVI\t2-Day\tothers",
    "U\t2024-02-01 19:52:59.444793\t83597\t37\tlanguage####\t97.07\t3\t2021-09-10\tSC\tStandard\tplay",
]

# Declared silver schema as Avro JSON — same shape as the reference's
# (scripts/bronze-silver.py:236-253): 10 columns, no Op, no lineage.
SILVER_AVRO = {
    "type": "record",
    "name": "silver_orders",
    "fields": [
        {"name": "replicadmstimestamp", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
        {"name": "invoiceid", "type": ["null", "long"]},
        {"name": "itemid", "type": ["null", "long"]},
        {"name": "category", "type": ["null", "string"]},
        {"name": "price", "type": ["null", "double"]},
        {"name": "quantity", "type": ["null", "int"]},
        {"name": "orderdate", "type": ["null", {"type": "int", "logicalType": "date"}]},
        {"name": "destinationstate", "type": ["null", "string"]},
        {"name": "shippingtype", "type": ["null", "string"]},
        {"name": "referral", "type": ["null", "string"]},
    ],
}


def write_batch(raw_dir, name, rows):
    raw_dir.mkdir(parents=True, exist_ok=True)
    p = raw_dir / name
    p.write_text("\n".join([HEADER, *rows]) + "\n")
    return p


@pytest.fixture
def pipeline(tmp_path):
    return MedallionPipeline(
        catalog=Catalog(tmp_path / "warehouse"),
        namespace="sales",
        input_path=tmp_path / "raw",
        checkpoint_dir=tmp_path / "ckpt",
        silver_schema=avro_schema_to_spark_schema(SILVER_AVRO),
        silver_partition_by=("destinationstate",),
    )


def test_medallion_golden_scenario(spark, tmp_path, pipeline):
    raw = tmp_path / "raw"
    cat = pipeline.catalog

    # -- batch 1: initial inserts -> pipeline ---------------------------
    write_batch(raw, "initial.csv", BATCH_1)
    r1 = pipeline.run_once(spark)
    assert r1[0]["files_ingested"] == 1
    assert r1[1]["status"] == "merged"

    bronze = cat.table("sales", "bronze_orders").read(spark)
    silver = cat.table("sales", "silver_orders").read(spark)
    assert bronze.count() == 5
    assert silver.count() == 5

    # -- batch 2: updates -> pipeline -----------------------------------
    time.sleep(0.02)  # distinct mtime for the new file
    write_batch(raw, "updates.csv", BATCH_2)
    r2 = pipeline.run_once(spark)
    assert r2[0]["files_ingested"] == 1
    assert r2[1]["status"] == "merged"

    # golden outputs (notebook :288, :294)
    bronze = cat.table("sales", "bronze_orders").read(spark)
    silver = cat.table("sales", "silver_orders").read(spark)
    assert bronze.count() == 7  # append-only history
    assert silver.count() == 5  # deduped current state

    rows = {r["invoiceid"]: r for r in silver.collect()}
    assert set(rows) == {24137, 15587, 42918, 40994, 83597}
    # updates won (notebook :324-325, :351-352)
    assert rows[40994]["category"] == "market####"
    assert rows[83597]["category"] == "language####"
    # untouched rows keep original categories
    assert rows[24137]["category"] == "degree"
    assert rows[15587]["category"] == "bit"
    assert rows[42918]["category"] == "school"
    # silver schema excludes CDC/lineage columns (FIXTURES.md §3)
    assert "Op" not in silver.columns
    assert "processed_time" not in silver.columns
    assert silver.schema["orderdate"].dataType.typeName() == "date"

    # -- idempotency: no new data -> no-op short-circuit (T4) -----------
    r3 = pipeline.run_once(spark)
    assert r3[0]["files_ingested"] == 0
    assert r3[1]["status"] == "no_new_data"
    assert cat.table("sales", "silver_orders").read(spark).count() == 5

    # silver partitioned by destinationstate (S15)
    files = cat.table("sales", "silver_orders").current_snapshot().files
    assert all("destinationstate=" in f for f in files)


def test_ingest_race_fix(spark, tmp_path):
    """Files landing with the same mtime as the checkpoint boundary
    are not skipped on the next run (reference bug, SURVEY.md §2.9 T1)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import (
        HadoopIncrementalFileSource,
        JsonCheckpoint,
    )
    import os

    raw = tmp_path / "raw"
    raw.mkdir()
    src = HadoopIncrementalFileSource(spark, raw, JsonCheckpoint(tmp_path / "ck.json"))
    (raw / "a.csv").write_text("x")
    files, state = src.new_files()
    assert [f.endswith("a.csv") for f in files] == [True]
    src.commit(state)

    # second file forced to the *same* mtime as the boundary
    (raw / "b.csv").write_text("y")
    m = (raw / "a.csv").stat().st_mtime_ns
    os.utime(raw / "b.csv", ns=(m, m))
    files2, state2 = src.new_files()
    assert [os.path.basename(f) for f in files2] == ["b.csv"]
    src.commit(state2)
    files3, _ = src.new_files()
    assert files3 == []
