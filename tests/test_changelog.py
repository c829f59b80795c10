"""Row-level CDC changelog between snapshots (Table.changelog)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _changes(df):
    return {
        (r["_change_type"], r["k"], r["v"], r["x"]) for r in df.collect()
    }


def test_insert_update_delete_net_changes(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    t.append(make(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    s0 = t.current_snapshot().snapshot_id
    merge_into(
        spark, t, make(spark, [(2, "B", 2.5), (4, "d", 4.0)]), on="k"
    )
    t.delete_where(spark, "k = 3")
    got = _changes(t.changelog(spark, s0, keys=["k"]))
    assert got == {
        ("INSERT", 4, "d", 4.0),
        ("DELETE", 3, "c", 3.0),
        ("UPDATE_BEFORE", 2, "b", 2.0),
        ("UPDATE_AFTER", 2, "B", 2.5),
    }


def test_carried_rewrite_rows_cancel(spark, tmp_path):
    """COW rewrites carry unchanged rows into new files; they must
    not surface as changes."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t2", SCHEMA)
    t.append(make(spark, [(i, "v", float(i)) for i in range(20)]))
    s0 = t.current_snapshot().snapshot_id
    merge_into(spark, t, make(spark, [(7, "UP", 7.5)]), on="k")
    cl = t.changelog(spark, s0, keys=["k"]).collect()
    assert {r["_change_type"] for r in cl} == {
        "UPDATE_BEFORE", "UPDATE_AFTER",
    }
    assert len(cl) == 2


def test_update_then_delete_nets_to_delete(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t3", SCHEMA)
    t.append(make(spark, [(1, "a", 1.0)]))
    s0 = t.current_snapshot().snapshot_id
    merge_into(spark, t, make(spark, [(1, "A", 9.0)]), on="k")
    t.delete_where(spark, "k = 1")
    got = _changes(t.changelog(spark, s0, keys=["k"]))
    assert got == {("DELETE", 1, "a", 1.0)}  # START payload


def test_rename_in_range_reports_only_real_changes(spark, tmp_path):
    """Both sides read through END's schema and renames: rows a COW
    rewrite carried from a pre-rename file cancel, even after a later
    rename moved the current schema past ``end``."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t_ren", SCHEMA)
    t.append(make(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1))
    s0 = t.current_snapshot().snapshot_id
    t.rename_column("v", "w")
    merge_into(
        spark, t,
        spark.createDataFrame([(2, "B", 2.5)], "k long, w string, x double"),
        on="k",
    )
    end = t.current_snapshot().snapshot_id
    t.rename_column("w", "z")
    got = {
        (r["_change_type"], r["k"], r["w"], r["x"])
        for r in t.changelog(spark, s0, end, keys=["k"]).collect()
    }
    assert got == {
        ("UPDATE_BEFORE", 2, "b", 2.0),
        ("UPDATE_AFTER", 2, "B", 2.5),
    }


def test_position_delete_appears_as_delete(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t4", SCHEMA,
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    s0 = t.current_snapshot().snapshot_id
    t.delete_where(spark, "k = 2")  # position delete: no file diff
    got = _changes(t.changelog(spark, s0, keys=["k"]))
    assert got == {("DELETE", 2, "b", 2.0)}


def test_keyless_set_diff_and_empty_range(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t5", SCHEMA)
    t.append(make(spark, [(1, "a", 1.0)]))
    s0 = t.current_snapshot().snapshot_id
    assert t.changelog(spark, s0).count() == 0  # empty range
    t.append(make(spark, [(2, "b", 2.0)]))
    got = {
        (r["_change_type"], r["k"])
        for r in t.changelog(spark, s0).collect()
    }
    assert got == {("INSERT", 2)}


def test_changelog_refuses_pending_deltas(spark, tmp_path):
    # a merge-on-read MERGE is position deletes plus new files, so
    # the changelog pairs the deleted and appended rows per key
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t6", SCHEMA,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", 1.0), (2, "c", 3.0)]))
    s0 = t.current_snapshot().snapshot_id
    merge_into(spark, t, make(spark, [(1, "b", 2.0), (5, "e", 5.0)]), on="k")
    assert t.current_snapshot().operation == "merge"
    assert t.current_snapshot().delete_files
    assert _changes(t.changelog(spark, s0, keys=["k"])) == {
        ("UPDATE_BEFORE", 1, "a", 1.0),
        ("UPDATE_AFTER", 1, "b", 2.0),
        ("INSERT", 5, "e", 5.0),
    }


def test_changelog_applies_back_to_end_state(spark, tmp_path):
    """Property: start-state + changelog = end-state. Applying the
    emitted changes (drop DELETE/UPDATE_BEFORE payloads, add
    INSERT/UPDATE_AFTER payloads) to the start snapshot reproduces
    the end snapshot exactly — on a randomized series of appends,
    merges, and deletes."""
    import random

    rng = random.Random(5)
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t7", SCHEMA)
    t.append(make(
        spark, [(k, rng.choice("abc"), float(k)) for k in range(30)]
    ))
    s0 = t.current_snapshot().snapshot_id
    for _ in range(3):
        batch = [
            (rng.randrange(45), rng.choice("xyz"), rng.random())
            for _ in range(8)
        ]
        merge_into(spark, t, make(spark, batch), on="k")
        t.delete_where(spark, f"k % 7 = {rng.randrange(7)}")

    cl = t.changelog(spark, s0, keys=["k"])
    start = t.read(spark, snapshot_id=s0)
    minus = cl.filter(
        F.col("_change_type").isin("DELETE", "UPDATE_BEFORE")
    ).drop("_change_type")
    plus = cl.filter(
        F.col("_change_type").isin("INSERT", "UPDATE_AFTER")
    ).drop("_change_type")
    reconstructed = start.exceptAll(minus).unionByName(plus)
    end = t.read(spark)
    assert reconstructed.exceptAll(end).count() == 0
    assert end.exceptAll(reconstructed).count() == 0
