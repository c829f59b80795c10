"""Lakehouse table-format tests: create/append/overwrite, snapshot
time travel, incremental reads, metadata tables, file-scoped COW merge."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    Table,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("state", T.StringType()),
    ]
)


def make_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture
def cat(tmp_path):
    return Catalog(tmp_path / "warehouse")


def test_create_append_read(spark, cat):
    t = cat.create_table("demo", "t1", SCHEMA, partition_by=["state"])
    assert cat.table_exists("demo", "t1")
    assert t.read(spark).count() == 0

    t.append(make_df(spark, [(1, "a", 1.0, "SC"), (2, "b", 2.0, "CT")]))
    t.append(make_df(spark, [(3, "c", 3.0, "SC")]))
    df = t.read(spark)
    assert df.count() == 3
    # declared schema preserved (incl. partition col type + order)
    assert df.schema == SCHEMA
    assert {r["id"] for r in df.collect()} == {1, 2, 3}


def test_partition_pruning_plan(spark, cat):
    t = cat.create_table("demo", "t2", SCHEMA, partition_by=["state"])
    t.append(make_df(spark, [(1, "a", 1.0, "SC"), (2, "b", 2.0, "CT")]))
    plan = (
        t.read(spark).filter(F.col("state") == "SC")._jdf.queryExecution().executedPlan().toString()
    )
    # partition filter must reach the scan, not a post-scan Filter only
    assert "PartitionFilters" in plan


def test_time_travel_and_incremental(spark, cat):
    t = cat.create_table("demo", "t3", SCHEMA)
    s1 = t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    s2 = t.append(make_df(spark, [(2, "b", 2.0, "CT"), (3, "c", 3.0, "PW")]))
    assert t.read(spark, snapshot_id=s1.snapshot_id).count() == 1
    assert t.read(spark).count() == 3
    inc = t.read_incremental(spark, start_snapshot_id=s1.snapshot_id)
    assert {r["id"] for r in inc.collect()} == {2, 3}
    inc_all = t.read_incremental(spark, start_snapshot_id=None)
    assert inc_all.count() == 3


def test_read_plans_without_a_job(spark, cat, no_jobs):
    # more files than Spark's default listing threshold (32): building
    # a read must not start a listing job for files the manifest names
    t = cat.create_table("demo", "tmany", SCHEMA)
    rows = [(i, "c", float(i), "SC") for i in range(400)]
    t.append(make_df(spark, rows).repartition(40))
    assert len(t.current_snapshot().files) >= 40
    sess = cat.sql_session(spark)
    sess.sql("USE demo")
    with no_jobs("plan only"):
        df = t.read(spark)
        q = sess.sql("SELECT state, count(*) AS n FROM tmany GROUP BY state")
    assert df.count() == 400
    assert [tuple(r) for r in q.collect()] == [("SC", 400)]


def test_incremental_rejects_rewrite_range(spark, cat):
    t = cat.create_table("demo", "t4", SCHEMA)
    s1 = t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    t.overwrite(make_df(spark, [(9, "z", 9.0, "ZZ")]))
    with pytest.raises(ValueError):
        t.read_incremental(spark, start_snapshot_id=s1.snapshot_id)


def test_metadata_tables(spark, cat):
    t = cat.create_table("demo", "t5", SCHEMA)
    t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    hist = t.history_df(spark)
    assert hist.columns == ["snapshot_id", "parent_id", "is_current_ancestor", "made_current_at"]
    assert hist.count() == 2  # create + append
    snaps = t.snapshots_df(spark).collect()
    assert [r["operation"] for r in snaps] == ["create", "append"]
    files = t.files_df(spark).collect()
    assert sum(r["record_count"] for r in files) == 1


def test_merge_upsert_and_file_scoping(spark, cat):
    t = cat.create_table("demo", "t6", SCHEMA, partition_by=["state"])
    t.append(
        make_df(
            spark,
            [(1, "a", 1.0, "SC"), (2, "b", 2.0, "CT"), (3, "c", 3.0, "PW")],
        )
    )
    before = set(t.current_snapshot().files)
    # update id=1 (category change), insert id=4
    src = make_df(spark, [(1, "a2", 10.0, "SC"), (4, "d", 4.0, "VI")])
    merge_into(spark, t, src, on="id")
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["category"] == "a2" and rows[1]["price"] == 10.0
    assert rows[2]["category"] == "b"
    # file-scoped COW: untouched partitions' files survive verbatim
    after = set(t.current_snapshot().files)
    untouched = {f for f in before if "state=CT" in f or "state=PW" in f}
    assert untouched <= after


def test_merge_partition_moving_update(spark, cat):
    t = cat.create_table("demo", "t7", SCHEMA, partition_by=["state"])
    t.append(make_df(spark, [(1, "a", 1.0, "SC"), (2, "b", 2.0, "CT")]))
    # id=1 moves SC -> NY; must not leave a stale SC row behind
    merge_into(spark, t, make_df(spark, [(1, "a", 1.0, "NY")]), on="id")
    rows = t.read(spark).collect()
    assert len(rows) == 2
    assert {(r["id"], r["state"]) for r in rows} == {(1, "NY"), (2, "CT")}


def test_merge_delete(spark, cat):
    t = cat.create_table("demo", "t8", SCHEMA)
    t.append(make_df(spark, [(1, "a", 1.0, "SC"), (2, "b", 2.0, "CT")]))
    src = spark.createDataFrame(
        [("D", 1, None, None, None), ("U", 2, "b2", 5.0, "CT")],
        "Op string, id long, category string, price double, state string",
    )
    merge_into(spark, t, src, on="id", delete_predicate="Op = 'D'")
    rows = t.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["id"] == 2 and rows[0]["category"] == "b2"


def test_catalog_namespaces_and_views(spark, cat):
    cat.create_namespace("ns1")
    assert "ns1" in cat.namespaces()
    t = cat.create_table("ns1", "tbl", SCHEMA)
    t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    assert cat.tables("ns1") == ["tbl"]
    sess = cat.sql_session(spark, "ns1")
    out = sess.sql("SELECT count(*) AS n FROM tbl").collect()
    assert out[0]["n"] == 1
    hist = sess.sql("SELECT snapshot_id FROM tbl.history")
    assert hist.count() == 2


def test_schema_evolution_append(spark, cat):
    t = cat.create_table("demo", "t9", SCHEMA)
    t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    evolved = T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType())])
    df2 = spark.createDataFrame([(2, "b", 2.0, "CT", "x")], evolved)
    t.append(df2)
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert rows[1]["extra"] is None
    assert rows[2]["extra"] == "x"


def test_concurrent_commit_detected(spark, cat, tmp_path):
    t = cat.create_table("demo", "t10", SCHEMA)
    t.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    snap = t.current_snapshot()
    # simulate a racing writer by bumping CURRENT behind our back
    stale = t._load(1)
    with pytest.raises(RuntimeError):
        t._next_snapshot("append", snap.files, [], [], t.schema, expected_version=1)


def test_partitions_metadata_table(spark, cat):
    """<table>.partitions (Iceberg parity): one row per live Hive
    partition tuple with per-content-kind totals; unpartitioned
    tables report a single empty-map row."""
    t = cat.create_table("demo", "tparts", SCHEMA, partition_by=["state"])
    t.append(
        make_df(
            spark,
            [(1, "a", 1.0, "SC"), (2, "b", 2.0, "SC"), (3, "c", 3.0, "CT")],
        )
    )
    t.append(make_df(spark, [(4, "d", 4.0, "CT")]))
    rows = {
        tuple(sorted(r["partition"].items())): r
        for r in t.partitions_df(spark).collect()
    }
    sc = rows[(("state", "SC"),)]
    ct = rows[(("state", "CT"),)]
    assert sc["record_count"] == 2 and sc["data_file_count"] >= 1
    assert ct["record_count"] == 2 and ct["data_file_count"] >= 2
    assert sc["total_data_file_size_in_bytes"] > 0
    assert sc["position_delete_file_count"] == 0

    # unpartitioned: single empty-map partition row
    u = cat.create_table("demo", "tflat", SCHEMA)
    u.append(make_df(spark, [(1, "a", 1.0, "SC")]))
    flat = u.partitions_df(spark).collect()
    assert len(flat) == 1 and flat[0]["partition"] == {}
    assert flat[0]["record_count"] == 1


def test_partitions_metadata_counts_position_deletes(spark, cat):
    t = cat.create_table(
        "demo", "tpmor", SCHEMA, partition_by=["state"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        make_df(
            spark,
            [(1, "a", 1.0, "SC"), (2, "b", 2.0, "SC"), (3, "c", 3.0, "CT")],
        )
    )
    t.delete_where(spark, "id = 2")
    rows = {
        tuple(sorted(r["partition"].items())): r
        for r in t.partitions_df(spark).collect()
    }
    sc = rows[(("state", "SC"),)]
    assert sc["position_delete_file_count"] == 1
    assert sc["position_delete_record_count"] == 1
    assert rows[(("state", "CT"),)]["position_delete_file_count"] == 0


def test_merge_projection_equals_per_column_casts(spark, cat):
    """MERGE projects its source onto the target schema with one
    ``selectExpr`` of SQL casts: the schema and rows equal the
    per-column ``F.col(c).cast(type)`` projection, nested, decimal,
    temporal and quoted names included, and source-only columns
    dropped."""
    import datetime as dt
    from decimal import Decimal

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.merge import (
        _project_to,
    )

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amt", T.DecimalType(10, 2)),
            T.StructField("day", T.DateType()),
            T.StructField("odd name", T.StringType()),
            T.StructField(
                "s", T.StructType([T.StructField("a b", T.IntegerType())])
            ),
            T.StructField("xs", T.ArrayType(T.LongType())),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    t = cat.create_table("demo", "proj", target)
    src = spark.createDataFrame(
        [
            (7, "12.345", "2024-02-29", 5, (1,), [1, 2], {"k": 1}, "D"),
            (None, None, None, None, None, None, None, None),
        ],
        "Op_ignored int, amt string, day string, `odd name` int, "
        "s struct<`a b`: int>, xs array<int>, m map<string, int>, "
        "id_src string",
    ).withColumnRenamed("Op_ignored", "id")
    got = _project_to(src, t)
    ref = src.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    assert got.collect()[0] == (
        7, Decimal("12.35"), dt.date(2024, 2, 29), "5", (1,), [1, 2],
        {"k": 1.0},
    )
