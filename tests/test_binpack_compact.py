"""Surgical small-file compaction (Iceberg rewrite_data_files
binpack): only small files rewrite; big files and other partitions
carry over untouched."""

from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_binpack_rewrites_only_small_files(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    # one big file (padded rows), several small ones
    import random

    rng = random.Random(11)
    big = make(
        spark,
        [(i, "x", "%0512x" % rng.getrandbits(2048)) for i in range(300)],
    ).coalesce(1)
    t.append(big)
    for i in range(4):
        t.append(make(spark, [(1000 + i, "x", "s")]).coalesce(1))
    before = t.current_snapshot().files
    big_files = {
        f for f in before
        if (t.data_root / f).stat().st_size >= 20_000
    }
    assert big_files and len(before) == 5
    snap = t.compact_binpack(spark, small_file_bytes=20_000)
    assert snap.operation == "replace"
    assert big_files <= set(snap.files)  # big file untouched
    assert len(snap.files) < len(before)
    assert set(snap.removed_files) == set(before) - big_files
    assert t.read(spark).count() == 304
    assert snap.summary["total_records"] == 304


def test_binpack_respects_partitions_and_min_group(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t2", SCHEMA, partition_by=["p"])
    # partition a: 3 small files; partition b: 1 small file (below
    # min_group — left alone)
    for i in range(3):
        t.append(make(spark, [(i, "a", "s")]).coalesce(1))
    t.append(make(spark, [(9, "b", "s")]).coalesce(1))
    before = set(t.current_snapshot().files)
    snap = t.compact_binpack(spark, small_file_bytes=1 << 20)
    a_before = {f for f in before if f.startswith("p=a/")}
    b_before = {f for f in before if f.startswith("p=b/")}
    assert b_before <= set(snap.files)  # lone small file kept
    assert not (a_before & set(snap.files))  # a's files rewritten
    # rewritten rows stay in their partition dir
    a_after = {f for f in snap.files if f.startswith("p=a/")}
    assert len(a_after) >= 1
    assert {r["k"] for r in t.scan(spark, "p = 'a'").collect()} == {0, 1, 2}


def test_binpack_noop_when_nothing_small(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t3", SCHEMA)
    t.append(make(spark, [(1, "a", "v")]).coalesce(1))
    v = t.current_snapshot().version
    assert t.compact_binpack(spark, small_file_bytes=10).version == v


def test_binpack_materializes_deletes_of_chosen_files_only(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t4", SCHEMA,
        properties={"write.delete.mode": "merge-on-read"},
    )
    import random

    rng = random.Random(12)
    big = make(
        spark,
        [(i, "x", "%0512x" % rng.getrandbits(2048)) for i in range(300)],
    ).coalesce(1)
    t.append(big)
    for i in range(3):
        t.append(make(spark, [(1000 + i, "x", "s")]).coalesce(1))
    # delete one row in the big file, one in a small file
    t.delete_where(spark, "k IN (5, 1001)")
    pre = t.current_snapshot()
    assert pre.summary["total_records"] == 301
    snap = t.compact_binpack(spark, small_file_bytes=20_000)
    # the small-file delete got materialized: its entry is pruned,
    # the big-file entry stays live
    assert snap.delete_files, "big-file delete entry must stay"
    import pyarrow.parquet as pq

    live_rows = sum(
        pq.ParquetFile(t.data_root / f).metadata.num_rows
        for f in snap.delete_files
    )
    assert live_rows == 1
    assert snap.summary["total_records"] == 301
    got = {r["k"] for r in t.read(spark).collect()}
    assert 5 not in got and 1001 not in got and len(got) == 301


def test_binpack_refuses_pending_mor_deltas(spark, tmp_path):
    # a merge-on-read MERGE leaves position deletes, which binpack
    # materializes into its rewrite like any other
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t5", SCHEMA,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", "v"), (2, "a", "w")]).coalesce(1))
    merge_into(spark, t, make(spark, [(1, "a", "v2")]), on="k")
    assert t.current_snapshot().operation == "merge"
    assert t.current_snapshot().delete_files
    t.compact_binpack(spark)
    snap = t.current_snapshot()
    assert snap.operation == "replace"
    assert snap.delete_files == [] and len(snap.files) == 1
    assert snap.summary["total_records"] == 2
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {
        (1, "v2"), (2, "w"),
    }


def test_call_rewrite_data_files_small_file_bytes(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t6", SCHEMA)
    for i in range(3):
        t.append(make(spark, [(i, "a", "s")]).coalesce(1))
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    sess.sql(
        "CALL system.rewrite_data_files(table => 't6', "
        "strategy => 'binpack', small_file_bytes => 1048576)"
    )
    snap = t.current_snapshot()
    assert len(snap.files) == 1 and snap.operation == "replace"
    assert t.read(spark).count() == 3
