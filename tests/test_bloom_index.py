"""Per-file bloom index: equality-predicate file skipping in scan().

The point-lookup complement to min/max stats pruning — a
high-cardinality key whose range spans every file defeats min/max,
while the bloom bitmap prunes to ~1 file."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.bloom_index import (
    load_bloom_index,
    prune_files_by_bloom,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _table(spark, tmp_path, n_batches=4, rows=50):
    """Interleaved keys: every file's [min,max] range spans the whole
    key space, so stats pruning keeps everything."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    for b in range(n_batches):
        t.append(
            spark.createDataFrame(
                [
                    (f"key-{b + n_batches * i:06d}", b + n_batches * i, f"v{b}")
                    for i in range(rows)
                ],
                SCHEMA,
            ).coalesce(1)
        )
    return t


def test_build_and_prune_string_key(spark, tmp_path):
    t = _table(spark, tmp_path)
    idx = t.build_bloom_index(spark, ["k"])
    files = t.current_snapshot().files
    assert set(idx["columns"]["k"]) == {f.rsplit("/", 1)[-1] for f in files}
    kept = prune_files_by_bloom(spark, t, files, "k = 'key-000005'")
    assert len(kept) < len(files)
    # the file that truly holds the key survives
    hit = t.scan(spark, "k = 'key-000005'").collect()
    assert len(hit) == 1 and hit[0]["n"] == 5


def test_prune_long_key_and_conjunction(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["k", "n"])
    files = t.current_snapshot().files
    kept = prune_files_by_bloom(spark, t, files, "n = 7 AND v = 'anything'")
    assert len(kept) < len(files)
    assert t.scan(spark, "n = 7").collect()[0]["k"] == "key-000007"


def test_scan_equals_full_read_for_every_key(spark, tmp_path):
    """No false drop: bloom pruning never loses a row (probe every
    present key plus misses)."""
    t = _table(spark, tmp_path, n_batches=3, rows=30)
    t.build_bloom_index(spark, ["k"])
    full = {r["k"]: r["n"] for r in t.read(spark).collect()}
    for key in list(full)[::7] + ["nope", "key-999999"]:
        got = t.scan(spark, f"k = '{key}'").collect()
        if key in full:
            assert len(got) == 1 and got[0]["n"] == full[key]
        else:
            assert got == []


def test_absent_key_prunes_everything_mostly(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["k"])
    files = t.current_snapshot().files
    kept = prune_files_by_bloom(spark, t, files, "k = 'definitely-absent'")
    # 8192 bits / ~200 values / 4 probes: overwhelmingly all pruned
    assert len(kept) <= 1


def test_unindexed_new_files_are_kept(spark, tmp_path):
    t = _table(spark, tmp_path, n_batches=2)
    t.build_bloom_index(spark, ["k"])
    t.append(
        spark.createDataFrame([("late-key", 999, "x")], SCHEMA).coalesce(1)
    )
    files = t.current_snapshot().files
    kept = prune_files_by_bloom(spark, t, files, "k = 'late-key'")
    assert any(f not in load_bloom_index(t)["columns"]["k"] for f in
               (f.rsplit("/", 1)[-1] for f in kept))
    assert t.scan(spark, "k = 'late-key'").collect()[0]["n"] == 999


def test_conservative_on_unsupported_conjuncts(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["k"])
    files = t.current_snapshot().files
    # range predicate, unindexed column, non-literal: all keep
    assert prune_files_by_bloom(spark, t, files, "k > 'a'") == files
    assert prune_files_by_bloom(spark, t, files, "v = 'v1'") == files
    assert prune_files_by_bloom(spark, t, files, "k = v") == files


def test_null_literal_gives_no_signal(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["n"])
    files = t.current_snapshot().files
    assert (
        prune_files_by_bloom(spark, t, files, "n = CAST(NULL AS BIGINT)")
        == files
    )


def test_rebuild_after_compact(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["k"])
    t.compact(spark, target_partitions=2)
    # old index references replaced files: conservative (no pruning
    # of the new unindexed files), correctness intact
    assert t.scan(spark, "k = 'key-000005'").count() == 1
    idx = t.build_bloom_index(spark, ["k"])
    files = t.current_snapshot().files
    assert set(idx["columns"]["k"]) == {f.rsplit("/", 1)[-1] for f in files}
    kept = prune_files_by_bloom(spark, t, files, "k = 'key-000005'")
    assert len(kept) <= len(files)
    assert t.scan(spark, "k = 'key-000005'").count() == 1


def test_random_probe_keeps_every_file(spark, tmp_path):
    # the probe side is drawn once per row at scan time, so no value
    # drawn while planning may prune
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["n"])
    files = t.current_snapshot().files
    for _ in range(3):
        assert prune_files_by_bloom(
            spark, t, files, "n = CAST(rand() * 6000 AS BIGINT)"
        ) == files


def test_literal_probes_start_no_job(spark, tmp_path, no_jobs):
    t = _table(spark, tmp_path)
    t.build_bloom_index(spark, ["k", "n"])
    files = t.current_snapshot().files
    with no_jobs("bloom probes"):
        kept = prune_files_by_bloom(
            spark, t, files, "n = 7 AND `K` = 'key-000007'"
        )
        scan = t.scan(spark, "n = 1234")
    assert len(kept) < len(files)
    assert scan.collect() == []


def test_promoted_column_is_not_probed(spark, tmp_path):
    # the index hashed the column as int; after promotion to bigint a
    # probe hashes as bigint and would miss every indexed value
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t", T.StructType([T.StructField("n", T.IntegerType())])
    )
    for b in range(4):
        t.append(
            spark.createDataFrame(
                [(b + 4 * i,) for i in range(50)], "n int"
            ).coalesce(1)
        )
    t.build_bloom_index(spark, ["n"])
    t.promote_column("n", T.LongType())
    assert [r["n"] for r in t.scan(spark, "n = 5").collect()] == [5]
