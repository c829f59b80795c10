"""session.local_frame (driver rows -> Arrow -> DataFrame) against
spark.createDataFrame over the same Python rows, for every schema shape
the package builds driver-side frames with."""

import decimal

import pytest
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.session import (
    local_frame,
)

S, I, L, B = T.StringType(), T.IntegerType(), T.LongType(), T.BooleanType()


def _struct(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


# One case per schema shape, since each reference frame costs one
# Python-worker job: sites whose schemas differ only in field names
# share a case (named after all of them), and the sites that may pass
# no rows (table probes and empty reads, TRUNCATE, SHOW VIEWS, vacuum,
# pagerank, the gram store) share "no_rows".
CASES = {
    # lakehouse/table.py
    "refs": (
        [("main", "branch", 7), ("tag1", "tag", None)],
        "name string, type string, snapshot_id long",
    ),
    "hll_blobs+show_namespaces+show_create+vacuum": ([("AgEHDA==",), (None,)], "hb string"),
    "partition_probe": (
        [("SC", None, 0), (None, "2024", 1)],
        _struct(("_raw_state", S, True), ("_raw_year", S, True), ("_pidx", I, False)),
    ),
    "file_stats": (
        [(0, "1", "9", True), (1, None, None, False)],
        _struct(("_fidx", I, False), ("_min_0", S, True), ("_max_0", S, True), ("_has_0", B, False)),
    ),
    "file_seq+ingest_file_seq": (
        [("f-1.parquet", 3), ("f-2.parquet", None)],
        "base_name string, _seq long",
    ),
    "metadata_agg": (
        [(0, 10, "SC", "1.5", "9.0", 8), (1, 4, None, None, None, 0)],
        _struct(
            ("_fidx", I, False), ("_rows", L, False), ("_g_state", S, True),
            ("_min_price", S, True), ("_max_price", S, True), ("_nn_price", L, False),
        ),
    ),
    "history": (
        [(1_700_000_000_000, 11, None, True), (1_700_000_000_500, 12, 11, False)],
        "made_current_at_ms long, snapshot_id long, parent_id long, is_current_ancestor boolean",
    ),
    "snapshots": (
        [(1_700_000_000_000, 11, None, "append", '{"added_files": "2"}')],
        "committed_at_ms long, snapshot_id long, parent_id long, operation string, summary string",
    ),
    "files": (
        [("state=SC/a.parquet", 0, 5, 812), ("posdel-1.parquet", 1, 2, 400)],
        "file_path string, content int, record_count long, file_size_in_bytes long",
    ),
    "manifests": (
        [("metadata/snap-11.json", 900, 11, 2, 0, 0, 1)],
        "path string, length long, snapshot_id long, "
        "added_data_files_count int, existing_data_files_count int, "
        "deleted_data_files_count int, delete_files_count int",
    ),
    "entries": (
        [(1, 11, 11, "a.parquet", 0, 5), (2, 12, 11, "b.parquet", 0, None)],
        "status int, snapshot_id long, sequence_number long, "
        "file_path string, content int, record_count long",
    ),
    "partitions": (
        [({"state": "SC", "year": None}, 2, 9, 1600, 1, 2), ({}, 1, 1, 300, 0, 0), (None, 0, 0, 0, 0, 0)],
        "partition map<string,string>, data_file_count long, "
        "record_count long, total_data_file_size_in_bytes long, "
        "position_delete_file_count long, position_delete_record_count long",
    ),
    "mor_rel+show_views": ([("a.parquet", "state=SC/a.parquet")], "_mc_base string, _file string"),
    # lakehouse/sql.py
    "show_tables": (
        [("silver", "orders", False), ("silver", "t", None)],
        "namespace string, tableName string, isTemporary boolean",
    ),
    "describe": (
        [("id", "bigint", None), ("# Partition Information", "", None)],
        "col_name string, data_type string, comment string",
    ),
    "rewrite_deletes": ([(0,)], "rewritten_delete_files_count int"),
    "expire+compact": ([(11,), (12,)], "expired_snapshot_id long"),
    "rollback+pagerank_empty": (
        [(12, 11, 13)],
        "previous_snapshot_id long, current_snapshot_id long, engine_commit_snapshot_id long",
    ),
    "fast_forward": ([("main", 11, 12)], "branch_updated string, previous_ref long, updated_ref long"),
    # pipeline, streaming and operators
    "quality_metrics": (
        [(0, "not_null_id", "not_null", 10, 0, True), (1, "range", None, 10, 2, False)],
        _struct(
            ("batch_id", L, True), ("check", S, True), ("kind", S, True),
            ("n_rows", L, True), ("n_violations", L, True), ("ok", B, True),
        ),
    ),
    "bpe_merges": (
        [(1, "a", "n</w>", "an</w>", 6)],
        "rank int, left string, right string, merged string, pair_count bigint",
    ),
    "wordpiece_merges": (
        [(1, "b", "##a", "ba", 4, 4, 9), (2, "ba", "##n", "ban", 4, 4, 8)],
        "rank int, left string, right string, merged string, "
        "pair_count bigint, left_count bigint, right_count bigint",
    ),
    "recall_floors": ([("ivf", 0.6), ("lsh", None)], "method string, floor double"),
    "no_rows": ([], "gram_type string, w1 string, w2 string, cnt long"),
    "pca_components": ([(0, 0, 0.707107), (0, 1, -0.707107)], "component int, dim_idx int, weight double"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_data_frame(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_what_create_data_frame_rejects(spark):
    for rows, schema in [
        ([(1.5,)], "x decimal(10,2)"),
        ([(1,)], "x double"),
        ([(None,)], _struct(("x", I, False))),
        ([("a", 1)], "x string"),
    ]:
        with pytest.raises(Exception) as want:
            spark.createDataFrame(rows, schema)
        with pytest.raises(type(want.value)):
            local_frame(spark, rows, schema)
    ok = [(decimal.Decimal("1.25"),)]
    assert local_frame(spark, ok, "x decimal(10,2)").collect() == ok
