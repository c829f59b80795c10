"""WRITE ORDERED BY sort orders, SET TBLPROPERTIES, and row-lineage
metadata columns (_file/_pos)."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _rows(spark, n=200, seed=3):
    import random

    rng = random.Random(seed)
    data = [(rng.randrange(10_000), f"v{i}") for i in range(n)]
    return spark.createDataFrame(data, SCHEMA)


def test_write_ordered_by_sorts_within_files(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    sess.sql("ALTER TABLE t WRITE ORDERED BY (k)")
    assert t.properties["write.sort-order"] == "k"
    t.append(_rows(spark).repartition(4))
    for f in t.current_snapshot().files:
        ks = pq.read_table(t.data_root / f).column("k").to_pylist()
        assert ks == sorted(ks), f
    # row-group min/max on k now prune a selective scan to few files
    assert {r["k"] for r in t.read(spark).collect()} == {
        r["k"] for r in _rows(spark).collect()
    }


def test_write_ordered_desc_and_unordered(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t2", SCHEMA)
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    sess.sql("ALTER TABLE t2 WRITE ORDERED BY (k DESC)")
    t.append(_rows(spark).repartition(2))
    for f in t.current_snapshot().files:
        ks = pq.read_table(t.data_root / f).column("k").to_pylist()
        assert ks == sorted(ks, reverse=True)
    sess.sql("ALTER TABLE t2 WRITE UNORDERED")
    assert t.properties["write.sort-order"] == ""
    with pytest.raises(KeyError):
        sess.sql("ALTER TABLE t2 WRITE ORDERED BY (nope)")


def test_range_distribution_makes_files_disjoint(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t3", SCHEMA,
        properties={
            "write.sort-order": "k",
            "write.distribution-mode": "range",
        },
    )
    # AQE rightly coalesces a toy-sized range shuffle to ONE file (it
    # is below the advisory partition size); pin coalescing off so the
    # multi-file disjointness property is observable at test scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.append(_rows(spark, n=400).repartition(8))
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    ranges = []
    for f in t.current_snapshot().files:
        ks = pq.read_table(t.data_root / f).column("k").to_pylist()
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) > 1
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # file key ranges don't interleave


def test_set_tblproperties_roundtrip_drives_behavior(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t4", SCHEMA)
    t.append(_rows(spark, n=40))
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    sess.sql(
        "ALTER TABLE t4 SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read', 'owner'='me')"
    )
    assert t.properties["owner"] == "me"
    snap = t.delete_where(spark, "k >= 0 AND v = 'v1'")
    assert snap.delete_files, "property did not switch DELETE to MOR"


def test_sort_order_exports_to_iceberg_metadata(spark, tmp_path):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        table_metadata,
    )

    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t5", SCHEMA, properties={"write.sort-order": "k DESC, v"}
    )
    t.append(_rows(spark, n=10))
    doc = table_metadata(t)
    assert doc["default-sort-order-id"] == 1
    fields = doc["sort-orders"][1]["fields"]
    assert [f["direction"] for f in fields] == ["desc", "asc"]
    assert [f["null-order"] for f in fields] == [
        "nulls-last", "nulls-first",
    ]
    ids = {f["source-id"] for f in fields}
    assert len(ids) == 2


def test_read_with_metadata_pos_and_file(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t6", SCHEMA)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], SCHEMA
    ).coalesce(1).orderBy("k")
    t.append(df)
    out = t.read_with_metadata(spark).collect()
    assert {r["_file"] for r in out} == set(t.current_snapshot().files)
    by_pos = sorted(out, key=lambda r: r["_pos"])
    assert [r["_pos"] for r in by_pos] == list(range(20))
    assert [r["k"] for r in by_pos] == list(range(20))  # write order
    # after a position delete, deleted (file,pos) rows vanish
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete_where(spark, "k IN (3, 7)")
    out2 = t.read_with_metadata(spark).collect()
    assert len(out2) == 18
    assert {r["_pos"] for r in out2} == set(range(20)) - {3, 7}


def test_read_with_metadata_refuses_pending_deltas(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t7", SCHEMA,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "c")], SCHEMA).coalesce(1))
    base = t.current_snapshot().files
    merge_into(spark, t, spark.createDataFrame([(1, "b")], SCHEMA), on="k")
    snap = t.current_snapshot()
    assert snap.operation == "merge" and snap.delete_files
    # the merged row lives in the new file at pos 0; the base row it
    # replaced is position-deleted, the untouched one keeps pos 1
    got = {
        (r["k"], r["v"], r["_file"], r["_pos"])
        for r in t.read_with_metadata(spark).collect()
    }
    (added,) = snap.added_files
    assert got == {(1, "b", added, 0), (2, "c", base[0], 1)}
