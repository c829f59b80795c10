"""Object-store scheme dispatch for incremental ingest (S2/S4).

The reference lists S3 with boto3 (scripts/raw-bronze.py:59-67);
our `HadoopIncrementalFileSource` instead delegates to the Hadoop
FileSystem API, the same dispatch Spark's own file sources use, so
`file:`, `hdfs:` and `s3a:` share one code path. AWS is unreachable
offline, so these tests prove the non-`file:` path with `viewfs://`
— a Hadoop-native remote-looking scheme whose mount table we point
at local disk. Everything scheme-specific that s3a would exercise is
exercised here: URI-authority paths, Hadoop's millisecond mtimes,
recursive remote listing, checkpoint boundary semantics, and
Spark reads straight from the foreign scheme.
"""

import os
from urllib.parse import unquote

import pytest

from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.checkpoint import (
    JsonCheckpoint,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.ingest import (
    HadoopIncrementalFileSource,
    strip_scheme,
)


@pytest.fixture()
def viewfs_prefix(spark, tmp_path):
    """A viewfs:// URI whose mount link lands in tmp_path/raw."""
    raw = tmp_path / "raw"
    raw.mkdir()
    mount = f"mock{abs(hash(str(tmp_path))) % 10**8}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./data", raw.as_uri()
    )
    return f"viewfs://{mount}/data", raw


def _write(raw, name, body, mtime_s=None):
    p = raw / name
    p.write_text(body)
    if mtime_s is not None:
        os.utime(p, (mtime_s, mtime_s))
    return p


def test_foreign_scheme_listing_and_checkpoint_boundary(
    spark, tmp_path, viewfs_prefix
):
    uri, raw = viewfs_prefix
    _write(raw, "a.csv", "k\tv\n1\ta\n", mtime_s=1_000_000.0)
    _write(raw, "b.csv", "k\tv\n2\tb\n", mtime_s=1_000_010.0)
    _write(raw, "skip.txt", "not csv", mtime_s=1_000_020.0)

    src = HadoopIncrementalFileSource(
        spark, uri, JsonCheckpoint(tmp_path / "ck.json")
    )
    files, state = src.new_files()
    # URIs keep the foreign scheme (Spark reads them as-is)
    assert [f.rsplit("/", 1)[1] for f in files] == ["a.csv", "b.csv"]
    assert all(f.startswith("viewfs://") for f in files)
    src.commit(state)

    # nothing new -> no work (short-circuit contract)
    assert src.new_files()[0] == []

    # strictly newer file -> exactly that file
    _write(raw, "c.csv", "k\tv\n3\tc\n", mtime_s=1_000_020.0)
    files2, state2 = src.new_files()
    assert [f.rsplit("/", 1)[1] for f in files2] == ["c.csv"]
    src.commit(state2)

    # the listing race: a file landing with the SAME mtime as the
    # checkpoint boundary (ms granularity on object stores makes this
    # likely) must still be picked up via the boundary seen-set
    _write(raw, "d.csv", "k\tv\n4\td\n", mtime_s=1_000_020.0)
    files3, _ = src.new_files()
    assert [f.rsplit("/", 1)[1] for f in files3] == ["d.csv"]


def test_ingest_end_to_end_over_foreign_scheme(spark, tmp_path, viewfs_prefix):
    """Full raw->bronze over viewfs://: discovery, Spark CSV read,
    lineage enrichment (input_file keeps the remote URI; the
    ingest_seq join keys both sides by the scheme-less, URI-escaped
    path),
    partitioned append, committed checkpoint."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.ingest import (
        ingest_raw_to_bronze,
    )

    uri, raw = viewfs_prefix
    _write(raw, "a.csv", "k\tv\n1\talpha\n2\tbeta\n", mtime_s=2_000_000.0)
    _write(raw, "b.csv", "k\tv\n3\tgamma\n", mtime_s=2_000_001.0)
    # names that input_file_name() reports URI-escaped (a%20b.csv,
    # c%25d.csv, e%23f.csv; '+' stays literal)
    escaped = ["a b.csv", "c%d.csv", "e#f.csv", "g+h.csv"]
    for i, name in enumerate(escaped):
        _write(raw, name, f"k\tv\n{4 + i}\tx\n", mtime_s=2_000_002.0 + i)

    cat = Catalog(tmp_path / "wh")
    n = ingest_raw_to_bronze(
        spark, cat, uri, "bronze", "t", tmp_path / "ck.json"
    )
    assert n == 6
    rows = cat.table("bronze", "t").read(spark).collect()
    # inferSchema types k as bigint, exactly as over file:
    assert sorted((r.k, r.v) for r in rows) == [
        (1, "alpha"), (2, "beta"), (3, "gamma"),
        (4, "x"), (5, "x"), (6, "x"), (7, "x"),
    ]
    # lineage keeps the object-store URI; seq follows mtime order
    by_file = {
        unquote(r.input_file.rsplit("/", 1)[1]): r.ingest_seq for r in rows
    }
    assert by_file == {
        name: i for i, name in enumerate(["a.csv", "b.csv", *escaped])
    }
    assert all(r.input_file.startswith("viewfs://") for r in rows)

    # idempotent second run: no new files, no new rows
    assert ingest_raw_to_bronze(
        spark, cat, uri, "bronze", "t", tmp_path / "ck.json"
    ) == 0
    assert cat.table("bronze", "t").read(spark).count() == 7


def test_strip_scheme_normalizes_authorities():
    assert strip_scheme("viewfs://mock/data/a.csv") == "/mock/data/a.csv"
    assert strip_scheme("s3a://bucket/pfx/a.csv") == "/bucket/pfx/a.csv"
    assert strip_scheme("file:///x/a.csv") == "/x/a.csv"
    assert strip_scheme("file:/x/a.csv") == "/x/a.csv"
    assert strip_scheme("/plain/a.csv") == "/plain/a.csv"
