"""Raw -> Bronze: incremental file ingestion with lineage enrichment.

Engine equivalent of the reference's raw->bronze job
(scripts/raw-bronze.py:199-266):

- incremental discovery of new files under a prefix
  (`IncrementalFileProcessor`, scripts/raw-bronze.py:16-99) — here
  `HadoopIncrementalFileSource`, which FIXES the reference's listing race
  (files arriving between the listing and the `datetime.now()`
  checkpoint could be skipped — scripts/raw-bronze.py:88, SURVEY.md
  §2.9 T1) by checkpointing the max *observed file mtime* plus the
  set of files already seen at that exact mtime;
- batch CSV read, tab-separated with header + schema inference
  (scripts/raw-bronze.py:119-130) — explicit schema supported and
  preferred at scale (skips the inference pass over the data);
- SQL enrichment adding lineage + processing-time columns
  (scripts/raw-bronze.py:210-218): ``input_file`` via
  ``input_file_name()``, ``processed_time`` via
  ``current_timestamp``, ``processed_date`` string via
  ``DATE_FORMAT`` — P1 in SURVEY.md §2.2;
- append to the partitioned bronze table, create-on-first-load
  (scripts/raw-bronze.py:180-185), checkpoint committed only on
  success (:252-255).

The streaming variant (Structured Streaming file source with
``Trigger.AvailableNow``) lives in streaming/file_ingest.py.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakehouse import Catalog
from ..session import local_frame
from .checkpoint import JsonCheckpoint


def strip_scheme(path: str) -> str:
    """file:/x, file:///x, s3a://bucket/x -> scheme-less join key."""
    import re

    return re.sub(r"^[a-z0-9+.-]+:/+", "/", path)


class HadoopIncrementalFileSource:
    """New-files-since-checkpoint discovery via the Hadoop FileSystem
    API (S2+S3+S4 in SURVEY.md §2.1): the same code path serves
    ``file:``, ``hdfs:``, ``s3a:`` etc. — dispatch is Hadoop's,
    exactly as Spark's own file sources do it. Replaces the
    reference's boto3-vs-os.walk split (scripts/raw-bronze.py:59-85).

    State doc: ``{"last_mtime_ns": int, "seen_at_last_mtime": [paths]}``.
    A file is "new" if its mtime is greater than the checkpointed
    mtime, or equal to it but not yet in the seen set — closing the
    race window without unbounded state (the seen set only holds
    files at the boundary timestamp).
    """

    def __init__(self, spark: SparkSession, input_path: str | Path,
                 checkpoint: JsonCheckpoint, suffix: str = ".csv"):
        self.spark = spark
        self.raw_path = str(input_path)
        self.checkpoint = checkpoint
        self.suffix = suffix

    def _list_files(self) -> list[tuple[str, int]]:
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.raw_path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return []
        out = []
        it = fs.listFiles(jpath, True)  # recursive
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if p.endswith(self.suffix):
                # Hadoop mtime is ms; keep the ns field name for
                # checkpoint compatibility
                out.append((p, st.getModificationTime() * 1_000_000))
        return sorted(out)

    def new_files(self) -> tuple[list[str], dict]:
        """Return (paths to process in mtime order, next ckpt state)."""
        state = self.checkpoint.load() or {"last_mtime_ns": -1, "seen_at_last_mtime": []}
        last = state["last_mtime_ns"]
        seen = set(state["seen_at_last_mtime"])
        listing = self._list_files()
        fresh = sorted(
            ((p, m) for p, m in listing if m > last or (m == last and p not in seen)),
            key=lambda pm: (pm[1], pm[0]),
        )
        if not fresh:
            return [], state
        max_m = max(m for _, m in listing)
        next_state = {
            "last_mtime_ns": max_m,
            "seen_at_last_mtime": sorted(p for p, m in listing if m == max_m),
        }
        return [p for p, _ in fresh], next_state

    def commit(self, state: dict) -> None:
        self.checkpoint.commit(state)


def read_csv_batch(
    spark: SparkSession,
    files: list[str],
    sep: str = "\t",
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """Batch CSV scan (reference scripts/raw-bronze.py:119-130).

    With an explicit schema the inference pass over the input is
    skipped — the right default at 100 TB. ``mode`` is the standard
    malformed-row policy (PERMISSIVE null-fills, DROPMALFORMED skips,
    FAILFAST raises); with ``corrupt_record_col`` the raw text of bad
    rows is captured into that column for a quarantine flow.
    """
    reader = (
        spark.read.option("sep", sep).option("header", "true").option("mode", mode)
    )
    if corrupt_record_col and schema is not None:
        schema = T.StructType(
            schema.fields + [T.StructField(corrupt_record_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(files)


def enrich_for_bronze(
    df: DataFrame, file_seq: DataFrame | None = None
) -> DataFrame:
    """Lineage + processing-time enrichment (P1, scripts/raw-bronze.py:210-218).

    Keeps the reference's exact column semantics, including
    ``processed_date`` as a *string* partition column (SURVEY.md
    §7.4).

    ``file_seq`` (columns ``input_file``, ``ingest_seq``) assigns each
    source file its position in file-mtime order. It becomes the
    deterministic dedup tie-break: ``current_timestamp`` is a
    per-batch constant, so when one batch carries several versions of
    a key (e.g. an at-least-once replay after checkpoint loss), rows
    from later files must still win. The reference breaks this tie
    arbitrarily (SURVEY.md §2.5 note); we fix it (SURVEY.md §7.3a).
    """
    out = df.select(
        "*",
        F.input_file_name().alias("input_file"),
        F.current_timestamp().alias("processed_time"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd").alias("processed_date"),
    )
    if file_seq is None:
        return out.withColumn("ingest_seq", F.lit(0).cast("long"))
    # normalize Spark's file URI (file:///x, s3a://…) for the join,
    # mirroring strip_scheme() over the listing's Path.toUri()
    norm = F.regexp_replace(F.col("input_file"), "^[a-z0-9+.-]+:/+", "/")
    return (
        out.withColumn("_path", norm)
        .join(F.broadcast(file_seq), F.col("_path") == file_seq["input_file"], "left")
        .drop(file_seq["input_file"])
        .drop("_path")
        .withColumn("ingest_seq", F.coalesce(F.col("ingest_seq"), F.lit(0)).cast("long"))
    )


def ingest_raw_to_bronze(
    spark: SparkSession,
    catalog: Catalog,
    input_path: str | Path,
    namespace: str,
    table_name: str,
    checkpoint_path: str | Path,
    sep: str = "\t",
    schema: T.StructType | None = None,
    partition_by: tuple[str, ...] = ("processed_date",),
    properties: dict[str, str] | None = None,
    suffix: str = ".csv",
) -> int:
    """One incremental raw->bronze run; returns #files ingested.

    Order of operations preserves the reference's at-least-once
    contract: write first, commit the checkpoint only on success
    (scripts/raw-bronze.py:252-255).
    """
    source = HadoopIncrementalFileSource(
        spark, str(input_path), JsonCheckpoint(checkpoint_path), suffix=suffix
    )
    files, next_state = source.new_files()
    if not files:
        return 0
    # new_files() returns mtime order -> positional ingest sequence.
    # input_file_name() is the URI-escaped form (a%20b.csv); the
    # listing is not, so key each file by its Hadoop Path.toUri().
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    file_seq = local_frame(
        spark,
        [(strip_scheme(hpath(p).toUri().toString()), i) for i, p in enumerate(files)],
        "input_file string, ingest_seq long",
    )
    df = enrich_for_bronze(
        read_csv_batch(spark, files, sep=sep, schema=schema), file_seq=file_seq
    )
    catalog.write(
        namespace, table_name, df, partition_by=partition_by,
        properties={"write.parquet.compression-codec": "snappy", **(properties or {})},
    )
    source.commit(next_state)
    return len(files)


def read_jsonl_batch(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """Batch JSON-Lines scan — the de-facto interchange format of
    LLM training corpora (one document object per line), the same
    malformed-row contract as :func:`read_csv_batch`.

    With a declared schema the inference pass is skipped (at 100 TB
    an inference pass reads the corpus twice); ``corrupt_record_col``
    captures unparseable lines verbatim for the quarantine flow
    (split with :func:`split_quarantine`). ``multiline=False`` keeps
    files SPLITTABLE — a 1 GB .jsonl becomes many input splits;
    multiline JSON arrays force one task per file, so the flag exists
    but defaults off.
    """
    reader = spark.read.option("mode", mode).option(
        "multiLine", str(multiline).lower()
    )
    if corrupt_record_col and schema is not None:
        schema = T.StructType(
            schema.fields + [T.StructField(corrupt_record_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(files)


def read_orc_batch(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Batch ORC scan — the columnar interchange sibling of Parquet
    (Hive-ecosystem exports commonly arrive as ORC). Self-describing
    like Parquet, so no corrupt-record contract applies; a declared
    schema projects/validates instead of inferring, and predicate
    pushdown + column pruning work through the native ORC reader
    exactly as for Parquet scans."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(files)


def split_quarantine(
    df: DataFrame, corrupt_record_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, quarantined_rows): a row is quarantined iff the
    corrupt column captured raw text. Clean rows drop the capture
    column; quarantined rows keep the full row (typed columns are
    null-filled noise by PERMISSIVE's contract, but Spark forbids a
    raw-file query that references ONLY the internal corrupt column —
    and the raw line plus its null-pattern is the more useful
    quarantine record anyway). Map-only — one filter each over the
    same scan."""
    bad = F.col(corrupt_record_col).isNotNull()
    clean = df.filter(~bad).drop(corrupt_record_col)
    quarantine = df.filter(bad)
    return clean, quarantine
