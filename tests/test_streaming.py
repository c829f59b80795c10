"""Structured Streaming ingest and stateful streaming operator tests."""

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import Catalog
from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import (
    bronze_to_silver,
    ingest_raw_to_bronze,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming import (
    stream_raw_to_bronze,
)

SCHEMA = T.StructType(
    [
        T.StructField("Op", T.StringType()),
        T.StructField("invoiceid", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("destinationstate", T.StringType()),
    ]
)

HEADER = "Op\tinvoiceid\tcategory\tprice\tdestinationstate"


def test_streaming_medallion_roundtrip(spark, tmp_path):
    """Streaming raw->bronze, then the one bronze->silver hop."""
    raw = tmp_path / "raw"
    raw.mkdir()
    cat = Catalog(tmp_path / "wh")

    def to_silver():
        return bronze_to_silver(
            spark, cat, "sales", "bronze", "silver", tmp_path / "ck_silver.json"
        )["status"]

    (raw / "b1.csv").write_text(
        HEADER + "\nI\t1\tdegree\t53.51\tSC\nI\t2\tbit\t40.94\tPW\n"
    )
    n1 = stream_raw_to_bronze(
        spark, cat, raw, "sales", "bronze", tmp_path / "ck_stream", SCHEMA
    )
    assert n1 >= 1
    assert cat.table("sales", "bronze").read(spark).count() == 2

    assert to_silver() == "merged"
    assert cat.table("sales", "silver").read(spark).count() == 2

    # second file: update invoice 1 — the file source must pick up ONLY
    # the new file (exactly-once tracking), merge must upsert
    time.sleep(0.02)
    (raw / "b2.csv").write_text(HEADER + "\nU\t1\tdegree####\t53.51\tSC\n")
    n2 = stream_raw_to_bronze(
        spark, cat, raw, "sales", "bronze", tmp_path / "ck_stream", SCHEMA
    )
    assert n2 >= 1
    assert cat.table("sales", "bronze").read(spark).count() == 3  # append-only

    assert to_silver() == "merged"
    silver = cat.table("sales", "silver").read(spark)
    rows = {r["invoiceid"]: r for r in silver.collect()}
    assert len(rows) == 2
    assert rows[1]["category"] == "degree####"
    assert "Op" not in silver.columns

    # no new data -> zero batches, then the no-new-data short-circuit
    assert stream_raw_to_bronze(
        spark, cat, raw, "sales", "bronze", tmp_path / "ck_stream", SCHEMA
    ) == 0
    assert to_silver() == "no_new_data"


def test_batch_and_stream_bronze_share_schema(spark, tmp_path):
    """Both raw->bronze paths enrich through enrich_for_bronze: same
    data columns, then the same lineage columns in the same order."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "b1.csv").write_text(HEADER + "\nI\t1\tdegree\t53.51\tSC\n")
    cat = Catalog(tmp_path / "wh")
    ingest_raw_to_bronze(
        spark, cat, raw, "sales", "batch", tmp_path / "ck.json", schema=SCHEMA
    )
    stream_raw_to_bronze(
        spark, cat, raw, "sales", "stream", tmp_path / "ck_stream", SCHEMA
    )
    batch = cat.table("sales", "batch").schema
    assert batch == cat.table("sales", "stream").schema
    assert batch.names == SCHEMA.names + [
        "input_file", "processed_time", "processed_date", "ingest_seq"
    ]


def test_windowed_counts_with_watermark_drops_late_data(spark, tmp_path):
    """Event-time windows + watermark: a second drain must count
    events within the watermark and drop ones older than
    (max event time seen - delay), using the checkpointed watermark."""
    import datetime

    from pyspark.sql import types as T

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming.windowed import (
        run_windowed_counts,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def ts(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    inp = tmp_path / "stream_in"
    inp.mkdir()
    spark.createDataFrame(
        [
            (1, "click", 1.0, ts(10, 5)),
            (2, "click", 2.0, ts(10, 40)),
            (3, "view", 3.0, ts(11, 10)),
            (4, "click", 4.0, ts(12, 0)),  # max event time -> wm 11:30
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(inp))

    rows1 = []
    run_windowed_counts(
        spark, inp, schema, tmp_path / "ck",
        lambda df, _id: rows1.extend(df.collect()),
        window_duration="1 hour", watermark_delay="30 minutes",
    )
    got1 = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in rows1
    }
    assert got1 == {(10, "click"): 2, (11, "view"): 1, (12, "click"): 1}

    # second batch: one event inside the watermark (11:45 >= 11:30),
    # one hopelessly late (9:00 < 11:30)
    spark.createDataFrame(
        [
            (5, "view", 5.0, ts(11, 45)),
            (6, "click", 6.0, ts(9, 0)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(inp))

    rows2 = []
    run_windowed_counts(
        spark, inp, schema, tmp_path / "ck",
        lambda df, _id: rows2.extend(df.collect()),
        window_duration="1 hour", watermark_delay="30 minutes",
    )
    got2 = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in rows2
    }
    # update mode: only the changed window appears; the 9:00 event
    # must NOT have produced or updated any window
    assert got2 == {(11, "view"): 2}


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates redelivered in a
    LATER drain (fresh query, same checkpoint) must still be dropped —
    the dedup state lives in the checkpointed state store, not the
    query object."""
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming.dedup import (
        dedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def ts(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    inp = tmp_path / "dedup_in"
    inp.mkdir()
    ck = str(tmp_path / "dedup_ck")

    def drain(sink_rows):
        src = spark.readStream.schema(schema).parquet(str(inp))
        q = (
            dedup_stream(src, keys=("event_id",), watermark_delay="2 hours")
            .writeStream.foreachBatch(
                lambda df, _id: sink_rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [(1, 1.0, ts(10, 0)), (2, 2.0, ts(10, 5)), (1, 1.0, ts(10, 0))]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(inp))
    rows1 = []
    drain(rows1)
    assert sorted(r["event_id"] for r in rows1) == [1, 2]

    # redeliver event 1 and 2 in a new file + one genuinely new event;
    # both replays are within the 2h watermark -> dropped by state
    batch2 = [(1, 1.0, ts(10, 0)), (2, 2.0, ts(10, 5)), (3, 3.0, ts(10, 30))]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(inp))
    rows2 = []
    drain(rows2)
    assert sorted(r["event_id"] for r in rows2) == [3]


def test_stream_stream_interval_join(spark, tmp_path):
    import datetime

    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming.join import (
        interval_join_streams,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("user", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def ts(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    rows = [
        (1, "click", 7, ts(10, 0)),
        (2, "purchase", 7, ts(10, 20)),   # within 30m of click 1
        (3, "purchase", 7, ts(11, 30)),   # too late for click 1
        (4, "click", 8, ts(10, 0)),
        (5, "purchase", 9, ts(10, 10)),   # wrong user
    ]
    inp = tmp_path / "join_in"
    inp.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        str(inp)
    )

    src = spark.readStream.schema(schema).parquet(str(inp))
    clicks = src.filter(F.col("kind") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user").alias("cu"),
        F.col("ts").alias("cts"),
    )
    purchases = src.filter(F.col("kind") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user").alias("pu"),
        F.col("ts").alias("pts"),
    )
    out = []
    q = (
        interval_join_streams(
            clicks, purchases, key=("cu", "pu"), ts=("cts", "pts"),
            upper="30 minutes",
        )
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [(r["click_id"], r["purchase_id"]) for r in out] == [(1, 2)]

    with pytest.raises(ValueError, match="must differ"):
        interval_join_streams(clicks, purchases, key=("cu", "cu"), ts=("cts", "pts"))


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer interval join over two DISTINCT sources: an
    unmatched click is emitted with NULL purchase columns once the
    watermark passes (click_ts + upper) — the state store holds it
    exactly as long as a match could still arrive. (Both sides must
    be separate sources: filtering one stream into both legs couples
    the watermarks and outer rows never flush — noted in
    streaming/join.py.)"""
    import datetime
    import time as _time

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming.join import (
        interval_join_streams,
    )

    cs = T.StructType(
        [
            T.StructField("click_id", T.LongType()),
            T.StructField("cu", T.LongType()),
            T.StructField("cts", T.TimestampType()),
        ]
    )
    ps = T.StructType(
        [
            T.StructField("purchase_id", T.LongType()),
            T.StructField("pu", T.LongType()),
            T.StructField("pts", T.TimestampType()),
        ]
    )

    def ts(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    cin = tmp_path / "clicks"
    pin = tmp_path / "purchases"
    cin.mkdir()
    pin.mkdir()
    out = []

    spark.createDataFrame([(1, 7, ts(10, 0)), (3, 9, ts(10, 0))], cs).coalesce(
        1
    ).write.mode("append").parquet(str(cin))
    spark.createDataFrame([(2, 7, ts(10, 20))], ps).coalesce(1).write.mode(
        "append"
    ).parquet(str(pin))

    q = (
        interval_join_streams(
            spark.readStream.schema(cs).parquet(str(cin)),
            spark.readStream.schema(ps).parquet(str(pin)),
            key=("cu", "pu"),
            ts=("cts", "pts"),
            upper="30 minutes",
            watermark_delay="10 minutes",
            how="left_outer",
        )
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline and not out:
            _time.sleep(0.5)
        assert [(r["click_id"], r["purchase_id"]) for r in out] == [(1, 2)]

        # late traffic on BOTH sides pushes the watermark far past
        # click 3's window -> the held row flushes as (3, NULL)
        spark.createDataFrame([(4, 7, ts(13, 0))], ps).coalesce(1).write.mode(
            "append"
        ).parquet(str(pin))
        spark.createDataFrame([(9, 7, ts(13, 0))], cs).coalesce(1).write.mode(
            "append"
        ).parquet(str(cin))
        deadline = _time.time() + 60
        while _time.time() < deadline and not any(
            r["click_id"] == 3 and r["purchase_id"] is None for r in out
        ):
            _time.sleep(0.5)
        assert any(
            r["click_id"] == 3 and r["purchase_id"] is None for r in out
        )
    finally:
        q.stop()
