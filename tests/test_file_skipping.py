"""Manifest-level file skipping on per-file column stats: the scan
planner must drop files whose footer-derived min/max cannot contain a
matching row — before any data file is opened — and row-level
DELETE/UPDATE discovery must rewrite only stats-admissible files.
"""

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)


def _mk(spark, tmp_path, rows, schema="k long, v double"):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", spark.createDataFrame([], schema).schema)
    files = []
    for chunk in rows:
        snap = t.append(spark.createDataFrame(chunk, schema).coalesce(1))
        files.append(snap.added_files)
    return t, files


def test_stats_recorded_on_append(spark, tmp_path):
    t, files = _mk(spark, tmp_path, [[(1, 1.5), (10, 2.5)]])
    (f,) = files[0]
    st = t.current_snapshot().stats[f]
    assert st["k"][:2] == ["1", "10"]
    assert st["v"][:2] == ["1.5", "2.5"]
    assert st["k"][2] == 0 and st["k"][3] == 2  # nulls, rows


def test_prune_by_stats_ranges(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
            [(i, float(i)) for i in range(200, 300)],
        ],
    )
    all_files = t.current_snapshot().files
    f1, f2, f3 = files[0][0], files[1][0], files[2][0]

    assert t._prune_files_by_stats(spark, all_files, "k = 150") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "k > 250") == [f3]
    assert set(t._prune_files_by_stats(spark, all_files, "150 <= k")) == {f2, f3}
    assert t._prune_files_by_stats(spark, all_files, "k >= 100 AND k < 200") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "v < 50.0") == [f1]
    # unsupported conjunct alone: conservative keep-all
    assert t._prune_files_by_stats(spark, all_files, "k % 2 = 0") == all_files
    # unsupported AND supported: the supported one still prunes
    assert t._prune_files_by_stats(spark, all_files, "k % 2 = 0 AND k = 7") == [f1]
    # a column-vs-column comparison must never be treated as literal
    assert t._prune_files_by_stats(spark, all_files, "k = v") == all_files


def test_all_null_file_pruned_for_comparisons(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [[(1, None), (2, None)], [(3, 7.0)]],
    )
    all_files = t.current_snapshot().files
    f2 = files[1][0]
    assert t._prune_files_by_stats(spark, all_files, "v = 7.0") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "v < 100.0") == [f2]


def test_delete_rewrites_only_admissible_files(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
            [(i, float(i)) for i in range(200, 300)],
        ],
    )
    f1, f3 = files[0][0], files[2][0]
    snap = t.delete_where(spark, "k = 150")
    assert snap.removed_files == [files[1][0]]
    assert f1 in snap.files and f3 in snap.files
    assert t.read(spark).count() == 299
    assert t.read(spark).filter("k = 150").count() == 0


def test_scan_prunes_and_matches_full_read(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
        ],
    )
    got = {r["k"] for r in t.scan(spark, "k >= 150 AND k < 160").collect()}
    assert got == set(range(150, 160))
    # and the planner really dropped the first file
    kept = t._prune_files_by_stats(
        spark, t.current_snapshot().files, "k >= 150 AND k < 160"
    )
    assert kept == [files[1][0]]


def test_timestamp_stats_prune(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "ts_t", schema)
    fs = []
    for day in (1, 10):
        snap = t.append(
            spark.createDataFrame(
                [(day, base.replace(day=day)), (day + 1, base.replace(day=day + 1))],
                schema,
            ).coalesce(1)
        )
        fs.append(snap.added_files[0])
    kept = t._prune_files_by_stats(
        spark, t.current_snapshot().files, "ts >= TIMESTAMP '2024-01-05 00:00:00'"
    )
    assert kept == [fs[1]]


def test_prune_by_stats_skips_nonliteral_sides(spark, tmp_path):
    # rand() would be drawn once per file while planning: a file whose
    # minimum beats that draw would be dropped although the scan draws
    # again per row, so only a literal side may prune
    t, files = _mk(spark, tmp_path, [[(i, float(i))] for i in range(8)])
    all_files = t.current_snapshot().files
    assert t._prune_files_by_stats(spark, all_files, "k < rand()") == all_files
    assert t._prune_files_by_stats(spark, all_files, "rand() > k") == all_files
    # literal sides still prune: signed, CAST, parenthesised
    assert t._prune_files_by_stats(spark, all_files, "k = -1") == []
    assert set(
        t._prune_files_by_stats(spark, all_files, "k >= CAST('6' AS BIGINT)")
    ) == {files[6][0], files[7][0]}
    assert set(t._prune_files_by_stats(spark, all_files, "v < (1.5)")) == {
        files[0][0], files[1][0]
    }


def test_clock_and_column_sides_keep_every_file(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "clock_t", schema)
    for year in (2001, 2002):
        t.append(
            spark.createDataFrame(
                [(year, dt.datetime(year, 1, 1))], schema
            ).coalesce(1)
        )
    all_files = t.current_snapshot().files
    for cond in (
        "ts > current_timestamp()",
        "current_timestamp() < ts",
        "ts >= now() AND k > 0",
        "k > ts",
        "k = k",
    ):
        assert t._prune_files_by_stats(spark, all_files, cond) == all_files, cond
    # a typed literal on the same column still prunes
    assert t._prune_files_by_stats(
        spark, all_files, "ts > TIMESTAMP '2001-06-01 00:00:00'"
    ) == [t.current_snapshot().added_files[0]]
