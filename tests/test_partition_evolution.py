"""Partition-spec evolution: change the layout of FUTURE writes
without rewriting a single existing file (Iceberg's flagship
metadata move). Reads union the historical layouts; pruning stays
conservative per-file; compact() migrates everything to the current
spec."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.session import (
    scan_files,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


BATCH1 = [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]
BATCH2 = [(4, "b", 4.0), (5, "c", 5.0)]


def test_identity_to_bucket_evolution(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    old_files = set(t.current_snapshot().files)
    snap = t.evolve_partition_spec(["bucket(4, k)"])
    assert snap.operation == "evolve-spec"
    assert set(snap.files) == old_files  # no rewrite
    t.append(make(spark, BATCH2))
    # old files under p=..., new under _p_k_bucket=...
    sigs = {
        tuple(s.split("=")[0] for s in f.split("/")[:-1])
        for f in t.current_snapshot().files
    }
    assert ("p",) in sigs and ("_p_k_bucket",) in sigs
    got = {(r["k"], r["p"], r["v"]) for r in t.read(spark).collect()}
    assert got == set(BATCH1 + BATCH2)
    # no hidden _p_* column leaks into the user schema
    assert set(t.read(spark).columns) == {"k", "p", "v"}


def test_unpartitioned_to_partitioned(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t2", SCHEMA)
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec(["p"])
    t.append(make(spark, BATCH2))
    assert t.read(spark).count() == 5
    assert {r["p"] for r in t.scan(spark, "p = 'b'").collect()} == {"b"}
    assert t.scan(spark, "p = 'b'").count() == 2


def test_pruning_stays_conservative_across_specs(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t3", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec([])  # drop partitioning entirely
    t.append(make(spark, BATCH2))
    # predicate on the OLD partition column: old files prune by dir,
    # new files (no dir) are kept and filtered by data
    assert {r["k"] for r in t.scan(spark, "p = 'b'").collect()} == {3, 4}
    files = [
        f.rsplit("/data/", 1)[1]
        for f in scan_files(t.scan(spark, "p = 'b'"))
    ]
    # the p=a old dir pruned away, unpartitioned new files kept
    assert not any(f.startswith("p=a/") for f in files)
    assert any("/" not in f for f in files)
    assert any(f.startswith("p=b/") for f in files)


def test_compact_migrates_to_current_spec(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t4", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec(["bucket(2, k)"])
    t.append(make(spark, BATCH2))
    t.compact(spark)
    sigs = {
        tuple(s.split("=")[0] for s in f.split("/")[:-1])
        for f in t.current_snapshot().files
    }
    assert sigs == {("_p_k_bucket",)}
    assert t.read(spark).count() == 5


def test_merge_into_mixed_layout(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t5", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec([])
    t.append(make(spark, BATCH2))
    merge_into(
        spark, t,
        make(spark, [(2, "a", 99.0), (5, "c", 55.0), (9, "z", 9.0)]),
        on="k",
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 1.0, 2: 99.0, 3: 3.0, 4: 4.0, 5: 55.0, 9: 9.0}


def test_time_travel_and_guards(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t6", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    pre = t.current_snapshot().snapshot_id
    t.evolve_partition_spec(["bucket(4, k)"])
    assert t.read(spark, snapshot_id=pre).count() == 3
    # unknown column rejected; no-op evolution returns current
    with pytest.raises(KeyError):
        t.evolve_partition_spec(["nope"])
    v = t.current_snapshot().version
    assert t.evolve_partition_spec(["bucket(4, k)"]).version == v
    # changelog reads cross the metadata-only evolve-spec snapshot
    t.append(make(spark, BATCH2))
    assert t.read_incremental(spark, pre).count() == 2


def test_sql_add_drop_partition_field(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t7", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    sess.sql("ALTER TABLE t7 ADD PARTITION FIELD bucket(4, k)")
    assert t.partition_by == ["p", "bucket(4, k)"]
    sess.sql("ALTER TABLE t7 DROP PARTITION FIELD p")
    assert t.partition_by == ["bucket(4, k)"]
    with pytest.raises(ValueError):
        sess.sql("ALTER TABLE t7 ADD PARTITION FIELD bucket(4,k)")
    with pytest.raises(KeyError):
        sess.sql("ALTER TABLE t7 DROP PARTITION FIELD p")
    t.append(make(spark, BATCH2))
    assert t.read(spark).count() == 5


def test_position_deletes_across_evolved_layouts(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t8", SCHEMA, partition_by=["p"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec([])
    t.append(make(spark, BATCH2))
    t.delete_where(spark, "k IN (2, 5)")  # one row in each layout
    assert {r["k"] for r in t.read(spark).collect()} == {1, 3, 4}


def test_export_evolved_table_multi_spec(spark, tmp_path):
    """Export writes one partition spec per retained layout, per-spec
    manifests (an Avro manifest's partition record type is fixed by
    its spec), and import round-trips per-snapshot specs."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        import_iceberg_dir,
        table_metadata,
    )

    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "te", SCHEMA, partition_by=["p"])
    t.append(make(spark, BATCH1))
    t.evolve_partition_spec(["bucket(4, k)"])
    t.append(make(spark, BATCH2))

    doc = table_metadata(t)
    assert len(doc["partition-specs"]) == 2
    assert doc["default-spec-id"] == 1
    by_id = {d["spec-id"]: d for d in doc["partition-specs"]}
    assert by_id[0]["fields"][0]["transform"] == "identity"
    assert by_id[1]["fields"][0]["transform"] == "bucket[4]"
    # partition field ids unique across specs
    ids = [f["field-id"] for d in doc["partition-specs"] for f in d["fields"]]
    assert len(ids) == len(set(ids))
    assert doc["last-partition-id"] == max(ids)

    dest = export_iceberg_dir(t, tmp_path / "exported")
    head = t.current_snapshot()
    _, mlist = read_container_file(
        dest / "metadata" / f"snap-{head.snapshot_id}.avro"
    )
    spec_ids = {m["partition_spec_id"] for m in mlist}
    assert spec_ids == {0, 1}
    # each manifest's entries carry partition values typed to ITS spec
    for m in mlist:
        _, entries = read_container_file(
            dest / "metadata" / m["manifest_path"].split("/")[-1]
        )
        for e in entries:
            part = e["data_file"]["partition"]
            if m["partition_spec_id"] == 0:
                assert set(part) == {"p"}
            else:
                assert set(part) == {"k_bucket"}

    back = import_iceberg_dir(dest)
    assert [s.partition_by for s in back] == [
        s.partition_by for s in t.snapshots()
    ]
    assert back[-1].files and sorted(back[-1].files) == sorted(head.files)
